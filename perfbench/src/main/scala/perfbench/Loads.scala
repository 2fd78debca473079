package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.{CancerHotspots, CosmicFusions, NcitLoad}

/** Generated records as the program's loaders take them, and the loader
  * calls themselves, spanned for the traced run.
  */
class Loads(spark: SparkSession, tracer: Tracer) {
  import spark.implicits._

  private def strings(cols: Seq[String], rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
      StructType(cols.map(StructField(_, StringType))))

  def ncitRaw(cs: Seq[Gen.Concept]): DataFrame = strings(NcitLoad.Header, cs.map(_.raw))

  def hotspotRecords(hs: Seq[Gen.Hotspot]): Dataset[CancerHotspots.HotspotRecord] =
    spark.createDataset(hs.map(h => CancerHotspots.HotspotRecord(h.sourceId,
      h.chromosome, h.start, h.stop, h.refSeq, h.untemplated, h.geneId,
      h.protein, h.transcriptId, h.cds, h.diseaseId)))

  def fusionRows(ks: Seq[Gen.FusionKey]): DataFrame =
    strings(Seq("recId", "fusionId", "sampleId", "gene1", "gene2", "exon1",
      "exon2", "disease", "diseaseFamily", "pubmed"), ks.flatMap(_.rows))

  /** Hotspot dimensions: genes G0..G(n-1), chr1-22 (names nm1-22), 100
    * transcripts of which the first 80 have `transcript` biotype.
    */
  def genes(n: Long): DataFrame = spark.range(n).select(concat(lit("G"), col("id")).as("sourceId"))
  lazy val chromosomes: DataFrame = spark.range(1, 23).select(
    concat(lit("chr"), col("id")).as("sourceId"), concat(lit("nm"), col("id")).as("name"))
  lazy val transcripts: DataFrame = spark.range(100).select(
    concat(lit("T"), col("id")).as("sourceId"),
    when(col("id") < 80, lit("transcript")).otherwise(lit("gene")).as("biotype"))
  lazy val vocab: DataFrame = Seq(("substitution", "t:sub"), ("deletion", "t:del"),
    ("insertion", "t:ins"), ("indel", "t:indel"), ("frameshift", "t:fs"))
    .toDF("name", "term_id")

  /** Primary Disease terms: the dimension hotspot and fusion records
    * resolve against, read from the store.
    */
  def diseases(store: TracedStore): DataFrame =
    store.read("terms").get.filter(col("endpoint") === "Disease" && !col("alias"))
      .select(col("sourceId"), col("name"))

  /** Traced runs materialize the NCIt normalize and resolve stages at
    * their boundaries; returns (rows in, rows rejected).
    */
  private def ncitStages(raw: DataFrame): (Long, Long) = {
    val staged = tracer.span("sources.ncit.staged", "sources") {
      val s = NcitLoad.stagedFrom(spark, raw).toDF().persist()
      s.count(); s
    }
    try {
      val resolved = tracer.span("sources.ncit.resolved", "sources") {
        NcitLoad.resolvedFrom(staged).filter(!col("rejected")).count()
      }
      val n = raw.count()
      (n, n - resolved)
    } finally { staged.unpersist(); () }
  }

  def ncit(store: TracedStore, raw: DataFrame, traced: Boolean,
      onStages: ((Long, Long)) => Unit): Map[String, Long] =
    tracer.span("sources.ncit", "sources") {
      if (traced) onStages(ncitStages(raw))
      NcitLoad.loadFrom(spark, store, raw)
    }

  def hotspots(store: TracedStore, recs: Dataset[CancerHotspots.HotspotRecord],
      nGenes: Long): Map[String, Long] =
    tracer.span("sources.hotspots", "sources") {
      CancerHotspots.loadDs(spark, store, recs, genes(nGenes), chromosomes,
        transcripts, diseases(store).select("sourceId"), vocab)
    }

  def fusions(store: TracedStore, rows: DataFrame, traced: Boolean): Map[String, Long] =
    tracer.span("sources.fusions", "sources") {
      if (traced) tracer.span("sources.fusions.preprocess", "sources") {
        CosmicFusions.preprocess(rows).count()
      }
      CosmicFusions.loadDf(spark, store, rows, diseases(store))
    }
}
