package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <resync|index_churn> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --out <result.json>
  * }}}
  *
  * Writes one JSON object to `--out`: `correct`, `attempted`, `failed`,
  * `metrics` (end-to-end metrics untraced, per-layer metrics traced) and a
  * `detail` object with sample counts, percentiles, the input hash, the
  * quiet-host bracket and the residue counters.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    val ctx = new Ctx(opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", work)
    val w: Workload = workload match {
      case "resync" => new Resync(ctx)
      case "index_churn" => new IndexChurn(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val result = try ctx.execute(w) finally ctx.stop()
    Files.write(Paths.get(opts("out")), result.getBytes("UTF-8"))
  }
}

/** One timed unit's outcome: input records it applied and ops it issued. */
case class UnitOutcome(records: Long, writes: Int, reads: Int, failed: Int)

/** A workload: inputs from the seed, a base state, and a timed unit that
  * is repeated for the run's duration. Set-up is measured separately.
  */
trait Workload {
  /** What one timed unit is, for the output. */
  def unitName: String
  /** Units per cycle: a run applies whole cycles, so every run applies
    * the same mix of unit kinds.
    */
  def cycle: Int = 1
  /** Nominal seconds of one cycle: `--seconds` buys
    * round(seconds / nominalCycleS) cycles (at least one), so a faster
    * program does the same work in less time and runs stay comparable.
    */
  def nominalCycleS: Double
  def generate(d: Gen.Digest): Unit
  /** Build the base state the timed phase runs on. Traced runs trace it. */
  def base(): Unit
  def warmup(): Unit
  def unit(i: Int, traced: Boolean): UnitOutcome
  /** Final output check; returns the mismatches (empty when correct). */
  def check(): Seq[String]
  /** Directories holding store state, for on-disk and residue counts. */
  def storeRoots: Seq[Path]
  /** Stores the workload writes through. */
  def stores: Seq[TracedStore] = Nil
  // traced-half inputs of the per-layer metrics; workloads that do not
  // exercise a layer leave its figures at zero
  /** Orchestrator level wall times and per-level loader skew. */
  val levelTimes = mutable.ArrayBuffer.empty[Double]
  val levelSkews = mutable.ArrayBuffer.empty[Double]
  var recordsIn = 0L
  var recordsRejected = 0L
  /** Inverted-index build time (set-up, untraced). */
  var buildS = 0.0
}

class Ctx(val seed: Long, val seconds: Double, val traced: Boolean, val work: Path) {
  private val t0 = System.nanoTime()
  val cores: Int = Runtime.getRuntime.availableProcessors()
  Files.createDirectories(work)
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  spark.range(1000).selectExpr("sum(id)").collect()
  val sessionS: Double = (System.nanoTime() - t0) / 1e9

  val tracer = new Tracer(spark)
  val jobs = new JobCollector
  if (traced) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(jobs)
  }

  val writeLat = mutable.ArrayBuffer.empty[Double]
  val readLat = mutable.ArrayBuffer.empty[Double]
  private val detail = mutable.LinkedHashMap.empty[String, String]
  def note(k: String, v: Any): Unit = detail(k) = Json.value(v)

  /** Time one read op (materializing its result inside the timing). */
  def readOp[T](f: => T): T = {
    val t = System.nanoTime()
    val r = f
    readLat += (System.nanoTime() - t) / 1e9
    r
  }

  def writeOp[T](f: => T): T = {
    val t = System.nanoTime()
    val r = f
    writeLat += (System.nanoTime() - t) / 1e9
    r
  }

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Quiet-host bracket: 1-minute load average, a fixed CPU-bound job and
    * a burst of trivial jobs (scheduling latency).
    */
  def hostReading(): Map[String, Double] = {
    val load = scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    val a = System.nanoTime()
    spark.range(20000000L).selectExpr("bit_xor(xxhash64(id))").collect()
    val b = System.nanoTime()
    (1 to 10).foreach(_ => spark.range(1000).count())
    val c = System.nanoTime()
    Map("loadavg1" -> load, "cpu_sentinel_s" -> (b - a) / 1e9, "sched_sentinel_s" -> (c - b) / 1e9)
  }

  /** Progress line on stderr (the run log). */
  def progress(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s  $msg")

  def execute(w: Workload): String = {
    val digest = new Gen.Digest
    val g0 = System.nanoTime()
    w.generate(digest)
    val genS = (System.nanoTime() - g0) / 1e9
    note("input_sha256", digest.hex)
    progress(f"generated inputs in $genS%.2f s")
    tracer.enabled = traced
    val b0 = System.nanoTime()
    w.base()
    val baseS = (System.nanoTime() - b0) / 1e9
    progress(f"base state built in $baseS%.2f s")
    tracer.enabled = false
    val setupSpans = tracer.lastId
    val w0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    progress(f"warm-up done in $warmS%.2f s")
    writeLat.clear(); readLat.clear()
    val setupS = sessionS + genS + baseS + warmS
    note("setup_parts_s", Map("session" -> sessionS, "generate" -> genS,
      "base" -> baseS, "warmup" -> warmS))

    val hostBefore = hostReading()
    var attempted = 0L; var failed = 0L; var records = 0L
    val unitWall = mutable.ArrayBuffer.empty[Double]
    val unitCpu = mutable.ArrayBuffer.empty[Double]
    // traced runs time the first half untraced and the second half traced:
    // the difference of the two halves' unit medians is the overhead
    val halves = if (traced) 2 else 1
    val cycles = math.max(1, math.round(seconds / halves / w.nominalCycleS).toInt)
    val tracedFrom = mutable.ArrayBuffer.empty[Int]
    var diskBefore = Disk(0, 0, 0); var compBefore = 0L; var mergesBefore = 0
    val loopT0 = System.nanoTime()
    var i = 0
    var stop = false
    (0 until halves).foreach { half =>
      val on = traced && half == 1
      if (on) {
        tracedFrom += i
        diskBefore = Layers.disk(w.storeRoots)
        compBefore = w.stores.map(_.compactions.get).sum
        mergesBefore = w.stores.map(_.merges.size).sum
        tracer.enabled = true
      }
      (0 until cycles).foreach { _ =>
        (0 until w.cycle).foreach { _ =>
          if (!stop) {
            val c0 = cpuNs; val u0 = System.nanoTime()
            val o =
              try w.unit(i, on)
              catch {
                case e: Exception =>
                  note(s"unit_${i}_error", s"${e.getClass.getName}: ${e.getMessage}")
                  stop = true
                  UnitOutcome(0, 1, 0, 1)
              }
            unitWall += (System.nanoTime() - u0) / 1e9
            progress(f"unit $i done in ${unitWall.last}%.3f s")
            unitCpu += (cpuNs - c0) / 1e9
            attempted += o.writes + o.reads; failed += o.failed; records += o.records
            i += 1
          }
        }
      }
    }
    val timedS = (System.nanoTime() - loopT0) / 1e9
    tracer.enabled = false
    val hostAfter = hostReading()
    val mismatches = w.check()
    mismatches.take(10).zipWithIndex.foreach { case (m, k) => note(s"check_$k", m) }
    attempted += 1 // the final output check is an op too
    if (mismatches.nonEmpty) failed += 1
    val correct = failed == 0

    note("unit", w.unitName)
    note("units", unitWall.size)
    note("unit_wall_s", unitWall.toSeq)
    note("timed_s", timedS)
    note("records", records)
    note("failed_frac", failed.toDouble / attempted)
    note("host_before", hostBefore)
    note("host_after", hostAfter)
    note("residue", Layers.residueCounts(spark, w.storeRoots).toMap)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val (wl, rl) = (writeLat.toSeq, readLat.toSeq)
    // the tails stay out of the bounded metrics: with a dozen samples per
    // run the tail is the largest sample, which one host stall moves by half
    note("write_samples", wl.size); note("read_samples", rl.size)
    note("write_tail_s", Stats.tail(wl)); note("read_tail_s", Stats.tail(rl))
    note("write_tail_pct", Stats.tailPct(wl.size)); note("read_tail_pct", Stats.tailPct(rl.size))
    if (!traced) {
      val wallPerUnit = Stats.median(unitWall.toSeq)
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (wallPerUnit, "s")
      metrics("records_per_s") = (records / unitWall.sum, "1/s")
      metrics("write_p50_s") = (Stats.median(wl), "s")
      metrics("read_p50_s") = (Stats.median(rl), "s")
      metrics("cpu_s") = (Stats.median(unitCpu.toSeq), "s")
      metrics("peak_rss_mb") = (peakRssMb, "MB")
    } else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val split = tracedFrom.head
      val plain = unitWall.take(split).toSeq; val on = unitWall.drop(split).toSeq
      val (setup, timed) = tracer.all.partition(_.id <= setupSpans)
      val l = new Layers(timed, jobs, on.size)
      // the orchestrator runs in set-up: its figures are per set-up DAG
      val o = new Layers(setup, jobs, 1)
      o.orchestrate(w.levelTimes.toSeq, w.levelSkews.toSeq)
      l.metrics ++= o.metrics
      l.sources(w.recordsIn, w.recordsRejected)
      l.store(w.stores.flatMap(_.merges.asScala).drop(mergesBefore),
        Layers.disk(w.storeRoots) - diskBefore,
        w.stores.map(_.compactions.get).sum - compBefore)
      l.retrieval(w.buildS)
      l.residue(spark, w.storeRoots)
      l.put("trace.overhead_s", Stats.median(on) - Stats.median(plain), "s")
      l.put("trace.overhead_frac",
        (Stats.median(on) - Stats.median(plain)) / Stats.median(plain), "ratio")
      metrics ++= l.metrics
      writeSpans(w)
    }
    Json.result(correct, attempted, failed, metrics.toSeq, detail.toSeq)
  }

  private def writeSpans(w: Workload): Unit = {
    val out = work.resolve("spans.jsonl")
    val lines = tracer.all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"s":${s.nanos / 1e9}}""")
    Files.write(out, lines.mkString("\n").getBytes("UTF-8"))
  }

  def stop(): Unit = spark.stop()
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Index of the tail sample in sorted order: the highest order statistic
    * with at least ten samples beyond it (the 11th largest). Below 21
    * samples that statistic does not lie above the median, so the tail is
    * the largest sample.
    */
  private def tailIndex(n: Int): Int = if (n >= 21) n - 11 else n - 1

  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply(tailIndex(xs.size))

  /** Percentile [[tail]] sits at, for the output. */
  def tailPct(n: Int): Double =
    if (n == 0) Double.NaN else 100.0 * tailIndex(n) / math.max(1, n - 1)
}

object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ": " + value(x) }
      .mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))], detail: Seq[(String, String)]): String = {
    val m = metrics.map { case (k, (v, u)) =>
      s"${value(k)}: {\"value\": ${value(v)}, \"unit\": ${value(u)}}" }
    val d = detail.map { case (k, v) => s"${value(k)}: $v" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${m.mkString(", ")}}, "detail": {${d.mkString(", ")}}}"""
  }
}
