package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.orchestrate.Orchestrator
import graft.sources.NcitLoad

/** `resync`: keep a loaded store current.
  *
  * Set-up is a cold load: an empty store, then a two-level Orchestrator
  * DAG — NCIt concepts first, then hotspot records and fusion rows side by
  * side (parallelism 2), both resolving their disease dimension against
  * the freshly loaded terms. Every write there is a first write, so
  * classify is bypassed.
  *
  * The timed phase applies fixed-size delta batches in cycles of four
  * units: three NCIt deltas (replays, updates and new concepts mixed) and
  * one soft-delete sync of the whole NCIt snapshot; each unit ends with
  * three reads of the disease dimension. An upsert delta of a few hundred keys touches
  * every bucket, so classify reads the whole terms table each time: the
  * store's discover, classify and write do the work, normalize does little.
  */
class Resync(ctx: Ctx) extends Workload {
  import ctx.spark

  val NBase = 10000
  val NHotspots = 2000
  val NFusionKeys = 600
  val Batch = 250
  val MaxCycles = 40
  val Readers = 3
  def unitName = "one delta batch (write) and three reads"
  override def cycle = 4
  def nominalCycleS = 16.0

  private val loads = new Loads(spark, ctx.tracer)
  private val root = ctx.work.resolve("resync/store")
  private var store: TracedStore = _
  private var model: Model.Graph = _
  private val mismatches = mutable.ArrayBuffer.empty[String]

  sealed trait Delta
  case class NcitDelta(batch: Vector[Gen.Concept]) extends Delta
  case class Sync(snapshot: Vector[Gen.Concept]) extends Delta

  private var concepts: Vector[Gen.Concept] = _
  private var hotspots: Vector[Gen.Hotspot] = _
  private var fusionKeys: Vector[Gen.FusionKey] = _
  private var deltas: Vector[Delta] = _
  private var next = 0
  /** Expected loader counters of the set-up DAG under each order the two
    * level-1 loaders can take on their shared tables.
    */
  private var expectedDag: Seq[Map[String, Map[String, Long]]] = _

  def generate(d: Gen.Digest): Unit = {
    val rng = new SplittableRandom(ctx.seed)
    concepts = Gen.concepts(rng, 0, NBase)
    hotspots = Gen.hotspots(rng, 0, NHotspots)
    fusionKeys = Gen.fusions(rng, NFusionKeys)
    // generator-side view of the live concepts the deltas draw from
    val live = mutable.LinkedHashMap.empty[Long, Gen.Concept]
    concepts.filterNot(_.deprecated).foreach(c => live(c.id) = c)
    var nextId = NBase.toLong
    deltas = (0 until MaxCycles * cycle).map { u =>
      // deltas never touch the reserved disease concepts
      val candidates = live.keysIterator.filter(_ >= Gen.ReservedDiseases).toVector
      if (u % cycle == cycle - 1) {
        val retire = (0 until live.size / 100).map(_ =>
          candidates(rng.nextInt(candidates.size))).toSet
        retire.foreach(live.remove)
        Sync(live.values.toVector)
      } else {
        val shuffle = new scala.util.Random(new java.util.Random(rng.nextLong()))
        val picks = shuffle.shuffle(candidates).take(Batch * 7 / 10)
        val (replays, updates) = picks.splitAt(Batch * 4 / 10)
        val upd = updates.map(id => live(id).copy(disease = !live(id).disease))
        upd.foreach(c => live(c.id) = c)
        val liveIds = live.keysIterator.toVector
        val fresh = (0 until Batch - picks.size).map { k =>
          val parent = if (k > 0 && rng.nextBoolean()) nextId + rng.nextInt(k)
            else liveIds(rng.nextInt(liveIds.size))
          Gen.Concept(nextId + k, rng.nextInt(10) < 7, rng.nextInt(4) == 0, parent,
            deprecated = false)
        }.toVector
        nextId += fresh.size
        fresh.foreach(c => live(c.id) = c)
        NcitDelta(replays.map(live) ++ upd ++ fresh)
      }
    }.toVector
    concepts.foreach(c => d.add(c.raw: _*))
    hotspots.foreach(h => d.add(h))
    fusionKeys.foreach(k => k.rows.foreach(r => d.add(r: _*)))
    deltas.foreach {
      case NcitDelta(b) => b.foreach(c => d.add(c.raw: _*))
      case Sync(s) => d.add("sync" +: s.map(_.id): _*)
    }
    expectedDag = Seq(true, false).map(hotspotsFirst => dagModel(hotspotsFirst)._1)
  }

  private def dagModel(hotspotsFirst: Boolean): (Map[String, Map[String, Long]], Model.Graph) = {
    val g = new Model.Graph
    val n = Model.ncitLoad(g, concepts)
    val (h, f) =
      if (hotspotsFirst) { val h = Model.hotspotLoad(g, hotspots); (h, Model.fusionLoad(g, fusionKeys)) }
      else { val f = Model.fusionLoad(g, fusionKeys); (Model.hotspotLoad(g, hotspots), f) }
    (Map("ncit" -> n, "hotspots" -> h, "fusions" -> f), g)
  }

  /** Set-up: the cold DAG load into an empty store. */
  def base(): Unit = {
    store = new TracedStore(spark, root.toString, ctx.tracer)
    model = dagModel(hotspotsFirst = true)._2
    val traced = ctx.tracer.enabled
    val loaderS = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    def timed(name: String)(f: => Map[String, Long]): Map[String, Long] = {
      val t = System.nanoTime()
      try f finally loaderS.put(name, (System.nanoTime() - t) / 1e9)
    }
    val raw = loads.ncitRaw(concepts)
    val recs = loads.hotspotRecords(hotspots)
    val fusionRows = loads.fusionRows(fusionKeys)
    val loaders = Seq(
      Orchestrator.Loader("ncit", Nil, _ => timed("ncit")(
        loads.ncit(store, raw, traced, _ => ()))),
      Orchestrator.Loader("hotspots", Seq("ncit"), _ => timed("hotspots")(
        loads.hotspots(store, recs, NHotspots))),
      Orchestrator.Loader("fusions", Seq("ncit"), _ => timed("fusions")(
        loads.fusions(store, fusionRows, traced))))
    val levels = mutable.ArrayBuffer.empty[(Seq[String], Double)]
    val report = ctx.tracer.span("orchestrate.run", "orchestrate") {
      Orchestrator.run(spark, loaders, parallelism = 2,
        beforeLevel = () => store.pinVersions(), afterLevel = () => store.unpinVersions(),
        onLevelDone = (names, s) => levels += ((names, s)))
    }
    if (traced) {
      levelTimes ++= levels.map(_._2)
      levels.filter(_._1.size > 1).foreach { case (names, _) =>
        val ts = names.map(n => loaderS.getOrDefault(n, 0.0))
        levelSkews += ts.max / (ts.sum / ts.size)
      }
    }
    checkDag(report)
  }

  /** NCIt counters must equal the model's; the level-1 loaders share the
    * variants, edges and statements tables, so on each of those tables
    * their counters must match one of the two orders they can take there.
    */
  private def checkDag(report: Orchestrator.Report): Unit = {
    val got = report.statuses.collect { case (n, Orchestrator.Succeeded(c)) => n -> c }
    report.statuses.foreach {
      case (n, s) if !got.contains(n) => mismatches += s"set-up loader $n: $s"
      case _ =>
    }
    if (got.get("ncit").exists(_ != expectedDag.head("ncit")))
      mismatches += s"set-up ncit counters ${got("ncit")} expected ${expectedDag.head("ncit")}"
    for (h <- got.get("hotspots"); f <- got.get("fusions")) {
      def part(m: Map[String, Long], p: String): Map[String, Long] = p match {
        case "" => m.filter(kv => Model.Actions(kv._1))
        case "other" => m.filter(kv => kv._1 == "record_errors" || kv._1 == "error")
        case _ => m.filter(_._1.startsWith(p))
      }
      Seq("", "edges_", "statements_", "other").foreach { p =>
        if (!expectedDag.exists(e =>
            part(e("hotspots"), p) == part(h, p) && part(e("fusions"), p) == part(f, p)))
          mismatches += s"set-up '$p' counters hotspots ${part(h, p)} fusions ${part(f, p)}"
      }
    }
  }

  /** None: the set-up DAG already ran every delta code path but classify. */
  def warmup(): Unit = ()

  def unit(i: Int, traced: Boolean): UnitOutcome = {
    require(next < deltas.size, s"more than $MaxCycles cycles")
    val d = deltas(next); next += 1
    def expect(what: String, got: Map[String, Long], want: Map[String, Long]): Int =
      if (got == want) 0 else { mismatches += s"unit $i $what: got $got expected $want"; 1 }
    val (records, bad) = d match {
      case NcitDelta(b) =>
        val got = ctx.writeOp(loads.ncit(store, loads.ncitRaw(b), traced, p => {
          recordsIn += p._1; recordsRejected += p._2 }))
        (b.size, expect("ncit delta", got, Model.ncitLoad(model, b)))
      case Sync(s) =>
        val got = ctx.writeOp(ctx.tracer.span("sources.ncit.sync", "sources") {
          val v = NcitLoad.vertices(NcitLoad.resolvedFrom(
            NcitLoad.stagedFrom(spark, loads.ncitRaw(s)).toDF()))
          store.merge("terms", v, keyCols = Seq("sourceId", "name"),
            compareCols = Seq("displayName", "endpoint", "alias"), softDelete = true)
        })
        if (traced) recordsIn += s.size
        val want = model.terms.softDelete(Model.vertices(s))
        model.tombstones += want.getOrElse("delete", 0L)
        (s.size, expect("soft-delete sync", got, want))
    }
    // three readers query the disease dimension after every batch
    val readBad = (0 until Readers).count { _ =>
      val got = ctx.readOp(loads.diseases(store).count())
      if (got != model.diseaseCount)
        mismatches += s"unit $i: disease dimension $got expected ${model.diseaseCount}"
      got != model.diseaseCount
    }
    UnitOutcome(records.toLong, 1, Readers, bad + readBad)
  }

  /** Final vertex, edge, variant and statement counts and the tombstone
    * total must equal the model's.
    */
  def check(): Seq[String] = {
    val want = model.counts
    val got = Seq("terms", "variants", "statements", "edges").map(t =>
      t -> store.read(t).map(_.count()).getOrElse(0L)).toMap
    val tomb = store.merges.asScala.filter(_.table == "terms")
      .map(_.counters.getOrElse("delete", 0L)).sum
    mismatches.toSeq ++ got.collect { case (t, n) if n != want(t) =>
      s"final $t count $n expected ${want(t)}" } ++
      (if (tomb != want("tombstones")) Seq(s"tombstones $tomb expected ${want("tombstones")}") else Nil)
  }

  def storeRoots: Seq[Path] = Seq(root)
  override def stores: Seq[TracedStore] = Option(store).toSeq
}
