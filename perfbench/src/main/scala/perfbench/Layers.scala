package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, from the spans and the job listener.
  * Additive figures are per timed unit (`units`), so runs of different
  * length compare; ratios and peaks are reported as they are.
  */
class Layers(spans: Seq[Span], jobs: JobCollector, val units: Int) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def perUnit(name: String, v: Double, unit: String): Unit = put(name, v / units, unit)

  private val byId = spans.map(s => s.id -> s).toMap
  private def ancestors(s: Span): Iterator[Span] =
    Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
      .takeWhile(_.isDefined).map(_.get)
  private val children = spans.groupBy(_.parent)
  private def descendants(s: Span): Seq[Span] =
    children.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c))

  /** Outermost spans of a layer: no ancestor in the same layer. */
  def top(layer: String, name: String => Boolean = _ => true): Seq[Span] =
    spans.filter(s => s.layer == layer && name(s.name) &&
      !ancestors(s).exists(_.layer == layer))

  private val allJobs = jobs.jobs.values().asScala.toSeq
  private def jobsUnder(s: Span): Seq[JobCollector#Job] = {
    val ids = (s +: descendants(s)).map(_.id).toSet
    allJobs.filter(j => ids(j.span))
  }
  private def layerOf(j: JobCollector#Job): String = byId.get(j.span).map(_.layer).getOrElse("")

  /** Length of the union of [a, b) intervals, clipped to [lo, hi). */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo; var tot = 0L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { tot += b - math.max(a, end); end = b }
      }
    tot
  }

  def secs(ss: Seq[Span]): Double = ss.map(_.nanos).sum / 1e9

  /** Spark totals of jobs selected by `sel`, as `spark.<layer>.*`. */
  def spark(layer: String, sel: JobCollector#Job => Boolean): Unit = {
    val js = allJobs.filter(sel)
    perUnit(s"spark.$layer.jobs", js.size, "count")
    perUnit(s"spark.$layer.tasks", js.map(_.tasks).sum, "count")
    perUnit(s"spark.$layer.task_cpu_s", js.map(_.cpuNs).sum / 1e9, "s")
    perUnit(s"spark.$layer.shuffle_write_bytes", js.map(_.shuffleWrite).sum, "bytes")
    perUnit(s"spark.$layer.spill_bytes", js.map(_.spill).sum, "bytes")
    put(s"spark.$layer.peak_exec_mem_bytes",
      js.map(_.peakMem).foldLeft(0L)(math.max), "bytes")
  }

  def orchestrate(levelTimes: Seq[Double], skews: Seq[Double]): Unit = {
    perUnit("orchestrate.level_s", levelTimes.sum, "s")
    put("orchestrate.level_skew", if (skews.isEmpty) 1.0 else skews.sum / skews.size, "ratio")
    spark("orchestrate", j => byId.get(j.span).exists(s =>
      s.layer == "orchestrate" || ancestors(s).exists(_.layer == "orchestrate")))
  }

  /** Loader self time: loader span minus the store spans inside it. */
  def sources(recordsIn: Long, rejected: Long): Unit = {
    val loaders = top("sources")
    val self = loaders.map { l =>
      val store = descendants(l).filter(_.layer == "store").map(s => (s.startMs, s.endMs))
      (l.endMs - l.startMs) - covered(store, l.startMs, l.endMs)
    }.sum / 1e3
    perUnit("sources.self_s", self, "s")
    perUnit("sources.task_cpu_s",
      allJobs.filter(layerOf(_) == "sources").map(_.cpuNs).sum / 1e9, "s")
    perUnit("sources.records_in", recordsIn, "count")
    perUnit("sources.records_rejected", rejected, "count")
    spark("sources", layerOf(_) == "sources")
  }

  /** `calls`: the merges of the traced half. */
  def store(calls: Seq[TracedStore#MergeCall], diskDelta: Disk, compactions: Long): Unit = {
    val tops = top("store")
    val writes = tops.filter(s => s.name == "store.merge" || s.name == "store.upsertEdges")
    perUnit("store.merge_calls", writes.size, "count")
    perUnit("store.merge_s", secs(tops.filter(_.name == "store.merge")), "s")
    perUnit("store.edges_s", secs(tops.filter(_.name == "store.upsertEdges")), "s")
    perUnit("store.read_s", secs(tops.filter(_.name.startsWith("store.read"))), "s")
    put("store.jobs_per_merge",
      if (writes.isEmpty) 0.0 else writes.map(jobsUnder(_).size).sum.toDouble / writes.size,
      "count")
    val gap = tops.map { s =>
      val iv = jobsUnder(s).map(j => (j.startMs, j.endMs))
      (s.endMs - s.startMs) - covered(iv, s.startMs, s.endMs)
    }.sum / 1e3
    perUnit("store.driver_gap_s", gap, "s")
    // every audit counter counts one classified row
    val merges = calls.filter(_.incoming >= 0)
    def classified(ms: Seq[TracedStore#MergeCall]) = ms.map(_.counters.values.sum).sum
    val changed = merges.map(_.counters.filter(_._1 != "noop").values.sum).sum
    perUnit("store.rows_incoming", merges.map(_.incoming).sum, "count")
    perUnit("store.rows_classified", classified(merges), "count")
    // upsert merges only: a soft-delete merge classifies the whole table
    // against a whole snapshot by definition
    val upserts = merges.filterNot(_.softDelete)
    val upIn = upserts.map(_.incoming).sum
    put("store.read_amplification",
      if (upIn == 0) 0.0 else classified(upserts).toDouble / upIn, "ratio")
    put("store.rewrite_ratio",
      if (merges.isEmpty) 0.0 else changed.toDouble / math.max(1L, classified(merges)), "ratio")
    perUnit("store.layers_written", diskDelta.layers, "count")
    perUnit("store.files_written", diskDelta.files, "count")
    perUnit("store.bytes_written", diskDelta.bytes, "bytes")
    perUnit("store.compactions", compactions, "count")
    spark("store", layerOf(_) == "store")
  }

  /** Retrieval calls: `retrieval.<op>` spans; each query span is one
    * materialized query batch.
    */
  def retrieval(buildS: Double): Unit = {
    def mean(op: String) = {
      val ss = top("retrieval", _ == s"retrieval.$op")
      if (ss.isEmpty) 0.0 else secs(ss) / ss.size
    }
    put("retrieval.build_s", buildS, "s")
    put("retrieval.update_s", mean("update"), "s")
    put("retrieval.delete_s", mean("delete"), "s")
    put("retrieval.query_s", mean("query"), "s")
    val qs = top("retrieval", _ == "retrieval.query")
    val qjobs = qs.map(jobsUnder)
    put("retrieval.jobs_per_query",
      if (qs.isEmpty) 0.0 else qjobs.map(_.size).sum.toDouble / qs.size, "count")
    put("retrieval.files_scanned_per_query",
      if (qs.isEmpty) 0.0
      else qjobs.map(js => js.map(_.execId).distinct.filter(_ >= 0)
        .map(e => Option(jobs.filesByExec.get(e)).map(_.toLong).getOrElse(0L)).sum)
        .sum.toDouble / qs.size, "count")
    spark("retrieval", layerOf(_) == "retrieval")
  }

  def residue(spark: SparkSession, roots: Seq[Path]): Unit =
    Layers.residueCounts(spark, roots).foreach { case (k, v) => put(s"residue.$k", v, "count") }
}

case class Disk(layers: Long, files: Long, bytes: Long) {
  def -(o: Disk): Disk = Disk(layers - o.layers, files - o.files, bytes - o.bytes)
}

object Layers {
  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else { val s = Files.walk(root); try s.iterator().asScala.toVector finally s.close() }

  /** Version layers, parquet files and their bytes under the store roots. */
  def disk(roots: Seq[Path]): Disk = {
    val all = roots.flatMap(walk)
    val parquet = all.filter(p => p.getFileName.toString.endsWith(".parquet"))
    Disk(all.count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("v=")),
      parquet.size, parquet.map(Files.size).sum)
  }

  /** What a run leaves behind: cached plans, cached RDD blocks, live
    * streaming queries and unpublished staging directories.
    */
  def residueCounts(spark: SparkSession, roots: Seq[Path]): Seq[(String, Double)] = {
    val cached = scala.util.Try {
      val cm = spark.sharedState.cacheManager
      val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
      f.setAccessible(true)
      f.get(cm).asInstanceOf[Iterable[_]].size.toDouble
    }.getOrElse(-1.0)
    val blocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    val staging = roots.flatMap(walk).count(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith(".tmp_v"))
    Seq("cached_plans" -> cached, "rdd_blocks" -> blocks.toDouble,
      "active_streams" -> spark.streams.active.length.toDouble,
      "staging_dirs" -> staging.toDouble)
  }
}
