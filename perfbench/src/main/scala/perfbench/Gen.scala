package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generator. Every workload input comes from here, derived
  * only from `--seed`; the same seed gives byte-identical inputs, which
  * [[Digest]] fingerprints so two runs can be compared by hash.
  */
object Gen {

  /** One NCIt concept. `disease` selects the semantic type (Disease or
    * Therapy endpoint); `parent` is -1 for a root.
    */
  case class Concept(id: Long, disease: Boolean, synonym: Boolean,
      parent: Long, deprecated: Boolean) {
    def sourceId: String = s"c$id"
    def name: String = s"term $id"
    def semanticType: String =
      if (disease) "Neoplastic Process" else "Pharmacologic Substance"
    def endpoint: String = if (disease) "Disease" else "Therapy"
    /** The 9-column raw NCIt row (NcitLoad.Header order). */
    def raw: Seq[String] = Seq(s"C$id", s"<http://ncit.example/C$id>",
      if (parent >= 0) s"C$parent" else "",
      if (synonym) s"Syn $id" else "", s"definition of concept $id",
      s"Term $id", if (deprecated) "Obsolete_Concept" else "",
      semanticType, "")
  }

  /** Concepts with ids below this are the stable disease dimension that
    * hotspot and fusion records resolve against; deltas never touch them.
    */
  val ReservedDiseases = 200

  def concepts(rng: SplittableRandom, from: Long, n: Int): Vector[Concept] =
    (0 until n).map { k =>
      val id = from + k
      if (id < ReservedDiseases)
        Concept(id, disease = true, synonym = id % 3 == 0,
          parent = if (id == 0) -1 else id / 2, deprecated = false)
      else
        Concept(id, disease = rng.nextInt(10) < 7, synonym = rng.nextInt(4) == 0,
          parent = rng.nextLong(id), deprecated = rng.nextInt(40) == 0)
    }.toVector

  /** One cancerhotspots record; `shape` 0 is a substitution, 1 a deletion
    * with a frameshift protein change. Every 11th record names a gene the
    * gene dimension lacks (a fatal record error), every 5th a transcript of
    * `gene` biotype (no cds form), every 7th a disease the store lacks.
    */
  case class Hotspot(j: Long, shape: Int, diseaseId: String) {
    def sourceId: String = s"hs$j"
    def chromosome: String =
      if (j % 2 == 0) s"chr${j % 22 + 1}" else s"nm${j % 22 + 1}"
    def chromSid: String = s"chr${j % 22 + 1}"
    def start: Long = 1000L + 3 * j
    def stop: Long = if (shape == 0) start else start + 1
    def refSeq: String = if (shape == 0) "A" else "TG"
    def untemplated: String = if (shape == 0) "T" else "-"
    def geneId: String = if (badGene) s"GX$j" else s"G$j"
    def badGene: Boolean = j % 11 == 0
    def transcriptId: String = s"T${j % 100}"
    def cdsResolvable: Boolean = j % 100 < 80
    def protein: String =
      if (shape == 0) s"p.G${j % 500 + 1}D" else s"p.P${j % 500 + 1}fs*?"
    def cds: String =
      if (shape == 0) s"c.${j + 1}G>A" else s"c.${j + 1}_${j + 2}delGA"
  }

  val HotspotDiseaseMiss = "cmissing"

  def hotspots(rng: SplittableRandom, from: Long, n: Int): Vector[Hotspot] =
    (0 until n).map { k =>
      val j = from + k
      Hotspot(j, rng.nextInt(2),
        if (j % 7 == 0) HotspotDiseaseMiss
        else s"c${rng.nextInt(ReservedDiseases)}")
    }.toVector

  /** One COSMIC fusion key: `samples` rows of one exon pair in one disease.
    * A key with fewer than 3 samples is not recurrent at any level.
    */
  case class FusionKey(k: Long, samples: Int, exon1: Int, exon2: Int,
      disease: Long, suffixed: Boolean) {
    def gene1: String = s"FA$k"
    def gene2: String = s"FB$k"
    def recurrent: Boolean = samples >= 3
    def general: String = s"$gene1::$gene2:fusion"
    def specific: String = s"$gene1::$gene2:fus(e.$exon1,e.$exon2)"
    def statementId: String = s"fr${k}_0"
    /** FusionRow-shaped rows (recId, fusionId, sampleId, gene1, gene2,
      * exon1, exon2, disease, diseaseFamily, pubmed).
      */
    def rows: Seq[Seq[String]] = (0 until samples).map { r =>
      Seq(s"fr${k}_$r", s"f$k", s"s${k}_$r",
        if (suffixed) s"${gene1}_v1" else gene1, gene2,
        exon1.toString, exon2.toString, s"term $disease", s"family ${disease % 5}", "")
    }
  }

  def fusions(rng: SplittableRandom, n: Int): Vector[FusionKey] =
    (0 until n).map { k =>
      FusionKey(k, if (k % 10 == 0) 2 else 3 + rng.nextInt(6),
        1 + rng.nextInt(20), 1 + rng.nextInt(20),
        rng.nextInt(ReservedDiseases).toLong, k % 6 == 0)
    }.toVector

  /** Zipf-distributed documents over a `vocab`-word vocabulary. */
  class Zipf(rng: SplittableRandom, vocab: Int, s: Double) {
    private val cdf = {
      val w = (1 to vocab).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      s"w${if (i >= 0) i else -i - 1}"
    }
    def text(len: Int): String = Seq.fill(len)(word()).mkString(" ")
  }

  /** Documents with ids [from, from + n). */
  def docs(z: Zipf, rng: SplittableRandom, from: Long, n: Int): Vector[(Long, String)] =
    (0 until n).map(k => (from + k, z.text(8 + rng.nextInt(40)))).toVector

  /** SHA-256 over every generated input, in generation order. */
  class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(parts: Any*): Unit = {
      md.update(parts.mkString("\u0001").getBytes("UTF-8")); md.update(10: Byte)
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
