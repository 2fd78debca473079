package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.PersistentGraphStore

/** One recorded span: a call into a layer, with the span that caused it. */
case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Long, endMs: Long, nanos: Long)

/** In-memory span recorder. While disabled every call is a plain pass-
  * through; while enabled it records spans and tags the Spark jobs a span
  * starts (thread-local job properties) so the listener can attribute them.
  */
class Tracer(spark: SparkSession) {
  /** Set only for the traced half of a traced run. */
  @volatile var enabled = false
  private val ids = new AtomicLong(0L)
  // inheritable: loader threads the Orchestrator starts inside a span
  // record their spans as its children
  private val stack = new InheritableThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  private val sc = spark.sparkContext

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      stack.set((id, layer) :: outer)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
      try f
      finally {
        spans.add(Span(id, parent, name, layer, ms0, System.currentTimeMillis(),
          System.nanoTime() - t0))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp,
          outer.headOption.map(_._1.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
  /** Id of the newest span so far. */
  def lastId: Long = ids.get
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Bench-owned store wrapper: every public store entry point the loaders
  * use is delegated unchanged, inside a span. Audit counters of each merge
  * are kept so the checks can sum tombstones and the traced run can
  * report classify volume.
  */
class TracedStore(spark: SparkSession, val root: String, tracer: Tracer)
    extends PersistentGraphStore(spark, root) {

  /** One merge: incoming rows (-1 when not traced) and audit counters. */
  case class MergeCall(table: String, incoming: Long, softDelete: Boolean,
      counters: Map[String, Long])
  val merges = new ConcurrentLinkedQueue[MergeCall]()
  val compactions = new AtomicLong(0L)

  override def merge(table: String, incoming: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String], setCols: Seq[String],
      softDelete: Boolean): Map[String, Long] = {
    // traced runs count the incoming frame at the boundary, outside the
    // merge span, so classify volume can be set against it
    val n = if (tracer.enabled) tracer.span("trace.count", "trace")(incoming.count()) else -1L
    val out = tracer.span("store.merge", "store") {
      super.merge(table, incoming, keyCols, compareCols, setCols, softDelete)
    }
    merges.add(MergeCall(table, n, softDelete, out))
    out
  }

  override def upsertEdges(rawCandidates: DataFrame): Map[String, Long] =
    tracer.span("store.upsertEdges", "store")(super.upsertEdges(rawCandidates))

  override def read(table: String): Option[DataFrame] =
    tracer.span("store.read", "store")(super.read(table))

  override def write(table: String, df: DataFrame, bucketCols: Seq[String],
      full: Boolean): Int =
    tracer.span("store.write", "store")(super.write(table, df, bucketCols, full))

  override def compact(table: String, prune: Boolean): Option[Int] = {
    compactions.incrementAndGet()
    tracer.span("store.compact", "store")(super.compact(table, prune))
  }
}

/** Per-job Spark accounting, tagged with the span that started the job. */
class JobCollector extends SparkListener with QueryExecutionListener {
  case class Job(id: Int, span: Long, execId: Long, startMs: Long) {
    @volatile var endMs: Long = startMs
    var tasks = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakMem = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** execution id → files read by its scans. */
  val filesByExec = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = Job(e.jobId, prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    val files = walk(qe.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    filesByExec.merge(qe.id, files, (a, b) => a + b)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
