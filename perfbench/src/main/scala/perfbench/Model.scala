package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Expected store state, kept by plain driver-side arithmetic over the
  * generator's own records. Every audit counter a store call returns and
  * every final table count is checked against this model, so the check
  * never trusts the program to tell it what the answer is.
  */
object Model {

  val NBuckets = 32 // PersistentGraphStore's default bucket count
  val Actions = Set("create", "update", "noop", "delete")

  /** `pmod(xxhash64(cols...), n)` for string keys: Spark's xxhash64 folds
    * each column into the running hash, starting from seed 42.
    */
  def bucket(key: Seq[String]): Int = {
    var h = 42L
    key.foreach { s =>
      val u = UTF8String.fromString(s)
      h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h)
    }
    (((h % NBuckets) + NBuckets) % NBuckets).toInt
  }

  /** Drop zero counters, as the store's audit maps do. */
  def nz(m: Map[String, Long]): Map[String, Long] = m.filter(_._2 != 0L)

  /** One keyed table: key → value fingerprint of its compared columns. */
  class Table {
    val rows = mutable.HashMap.empty[Seq[String], String]
    private var written = false

    /** Apply an upsert merge; returns the expected audit counters. */
    def upsert(incoming: Seq[(Seq[String], String)]): Map[String, Long] = {
      require(incoming.map(_._1).distinct.size == incoming.size, "duplicate keys")
      val out =
        if (!written) Map("create" -> incoming.size.toLong)
        else {
          val touched = incoming.map(kv => bucket(kv._1)).toSet
          val create = incoming.count(kv => !rows.contains(kv._1)).toLong
          val update = incoming.count(kv => rows.get(kv._1).exists(_ != kv._2)).toLong
          val inTouched = rows.keysIterator.count(k => touched(bucket(k))).toLong
          Map("create" -> create, "update" -> update, "noop" -> (inTouched - update))
        }
      written = true
      incoming.foreach { case (k, v) => rows(k) = v }
      nz(out)
    }

    /** Apply a soft-delete merge against a full snapshot. */
    def softDelete(snapshot: Seq[(Seq[String], String)]): Map[String, Long] = {
      val snap = snapshot.toMap
      val create = snap.keysIterator.count(k => !rows.contains(k)).toLong
      val update = snap.count { case (k, v) => rows.get(k).exists(_ != v) }.toLong
      val delete = rows.keysIterator.count(k => !snap.contains(k)).toLong
      val noop = rows.size - delete - update
      rows.clear(); rows ++= snap
      nz(Map("create" -> create, "update" -> update, "noop" -> noop,
        "delete" -> delete))
    }
  }

  /** The whole expected graph: vertex, variant and statement tables and
    * the edge set, plus cumulative tombstones.
    */
  class Graph {
    val terms = new Table
    val variants = new Table
    val statements = new Table
    val edges = mutable.HashSet.empty[(String, String, String)]
    var tombstones = 0L

    def upsertEdges(cands: Seq[(String, String, String)]): Map[String, Long] = {
      val fresh = cands.distinct.filterNot(edges.contains)
      edges ++= fresh
      Map("created" -> fresh.size.toLong)
    }

    def counts: Map[String, Long] = Map(
      "terms" -> terms.rows.size.toLong, "variants" -> variants.rows.size.toLong,
      "statements" -> statements.rows.size.toLong, "edges" -> edges.size.toLong,
      "tombstones" -> tombstones)

    /** Disease dimension as the store holds it: primary Disease terms. */
    def diseaseCount: Long = terms.rows.count { case (k, v) =>
      v.startsWith("Disease|") && v.endsWith("|false") }.toLong
  }

  // ---- per-source expectations ------------------------------------------

  def rid(sourceId: String, name: String) = s"$sourceId|$name"

  /** Vertex rows of a concept batch: key (sourceId, name) → endpoint,
    * displayName and alias flag.
    */
  def vertices(batch: Seq[Gen.Concept]): Seq[(Seq[String], String)] =
    batch.filterNot(_.deprecated).flatMap { c =>
      val prim = Seq(c.sourceId, c.name) ->
        s"${c.endpoint}|Term ${c.id} [${c.sourceId}]|false"
      val alias = if (c.synonym) Seq(Seq(c.sourceId, s"syn ${c.id}") ->
        s"${c.endpoint}|Syn ${c.id} [${c.sourceId}]|true") else Nil
      prim +: alias
    }

  def ncitEdges(batch: Seq[Gen.Concept]): Seq[(String, String, String)] = {
    val live = batch.filterNot(_.deprecated)
    val liveIds = live.map(_.id).toSet
    live.flatMap { c =>
      val alias = if (c.synonym) Seq((rid(c.sourceId, s"syn ${c.id}"),
        rid(c.sourceId, c.name), "aliasof")) else Nil
      val sub = if (c.parent >= 0 && liveIds(c.parent))
        Seq((rid(c.sourceId, c.name), rid(s"c${c.parent}", s"term ${c.parent}"),
          "SubClassOf")) else Nil
      alias ++ sub
    }
  }

  /** NcitLoad.loadFrom: terms merge counters plus `edges_created`. */
  def ncitLoad(g: Graph, batch: Seq[Gen.Concept]): Map[String, Long] =
    g.terms.upsert(vertices(batch)) ++
      g.upsertEdges(ncitEdges(batch)).map { case (k, v) => s"edges_$k" -> v }

  private val Term = Map("substitution" -> "t:sub", "deletion" -> "t:del",
    "frameshift" -> "t:fs")

  /** (form → vid) of a record with a resolvable gene. */
  def hotspotVids(h: Gen.Hotspot): Seq[(String, String)] = {
    val (gType, pType, cType) =
      if (h.shape == 0) ("substitution", "substitution", "substitution")
      else ("deletion", "frameshift", "deletion")
    val gNote =
      if (h.shape == 0) s"${h.chromosome}:g.${h.start}A>T"
      else s"${h.chromosome}:g.${h.start}_${h.stop}delTG"
    val pNote = h.protein.replaceAll("fs\\*\\?$", "fs")
    Seq("genomic" -> s"${h.chromSid}:$gNote@${Term(gType)}",
      "protein" -> s"${h.geneId}:$pNote@${Term(pType)}") ++
      (if (h.cdsResolvable) Seq("cds" -> s"${h.transcriptId}:${h.cds}@${Term(cType)}")
       else Nil)
  }

  /** CancerHotspots.loadDs over `batch`, diseases = the reserved terms. */
  def hotspotLoad(g: Graph, batch: Seq[Gen.Hotspot]): Map[String, Long] = {
    val good = batch.filterNot(_.badGene)
    val vids = good.map(h => h -> hotspotVids(h).toMap)
    val v = g.variants.upsert(vids.flatMap(_._2.values.toSeq).distinct
      .map(vid => Seq(vid) -> "v"))
    val e = g.upsertEdges(vids.flatMap { case (_, m) =>
      m.get("cds").map(c => (c, m("protein"), "Infers")).toSeq :+
        ((m("genomic"), m.getOrElse("cds", m("protein")), "Infers"))
    })
    val fresh = good.filter(h => h.diseaseId != Gen.HotspotDiseaseMiss &&
      !g.statements.rows.contains(Seq(h.sourceId)))
    val s = g.statements.upsert(fresh.map(h => Seq(h.sourceId) -> "hotspot"))
    v ++ e.map { case (k, n) => s"edges_$k" -> n } ++
      s.map { case (k, n) => s"statements_$k" -> n } +
      ("record_errors" -> (batch.size - good.size).toLong)
  }

  /** CosmicFusions.loadDf; every recurrent key resolves at level 0. */
  def fusionLoad(g: Graph, keys: Seq[Gen.FusionKey]): Map[String, Long] = {
    val rec = keys.filter(_.recurrent)
    val v = g.variants.upsert(rec.flatMap(k => Seq(k.general, k.specific))
      .map(vid => Seq(vid) -> "v"))
    val e = g.upsertEdges(rec.map(k => (k.specific, k.general, "Infers")))
    val s = g.statements.upsert(rec.map(k => Seq(k.statementId) -> "fusion"))
    v ++ e.map { case (k, n) => s"edges_$k" -> n } ++
      s.map { case (k, n) => s"statements_$k" -> n } + ("error" -> 0L)
  }
}
