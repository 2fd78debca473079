package graft.core

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class PersistentGraphStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(): PersistentGraphStore =
    new PersistentGraphStore(spark,
      Files.createTempDirectory("graft-store").toString)

  private def v1 = Seq(
    ("d1", "melanoma", Seq("solid"), false),
    ("d2", "glioma", Seq("cns"), false),
    ("d3", "old-term", Seq.empty[String], true)
  ).toDF("sourceId", "name", "subsets", "deprecated")

  test("first merge creates everything; re-running the SAME merge from disk is all-noop") {
    val store = freshStore()
    val c1 = store.merge("vertices", v1, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    assert(c1 == Map("create" -> 3L))
    assert(store.latestVersion("vertices").contains(1))

    // idempotency: the store state comes back OFF DISK, not from memory —
    // and an all-noop replay writes NO new layer (write-skip)
    val c2 = store.merge("vertices", v1, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    assert(c2 == Map("noop" -> 3L))
    assert(store.latestVersion("vertices").contains(1),
      "an all-noop merge must not write a version layer")
    assert(store.read("vertices").get.count() == 3)
  }

  test("a noop-action row with changed CARRY columns still rewrites its bucket") {
    val store = freshStore()
    val w1 = Seq(("d1", "melanoma", "uuid-a"), ("d2", "glioma", "uuid-b"))
      .toDF("sourceId", "name", "uuid")
    store.merge("vertices", w1, Seq("sourceId"), compareCols = Seq("name"))
    // same payload (name) → noop action, but the carry column differs:
    // the merge output takes the update's carry value, so stored bytes
    // change and the write must NOT be skipped
    val w2 = Seq(("d1", "melanoma", "uuid-NEW"), ("d2", "glioma", "uuid-b"))
      .toDF("sourceId", "name", "uuid")
    val c = store.merge("vertices", w2, Seq("sourceId"), compareCols = Seq("name"))
    assert(c == Map("noop" -> 2L))
    assert(store.latestVersion("vertices").contains(2),
      "carry-column change must still produce a layer")
    assert(store.read("vertices").get.filter(col("sourceId") === "d1")
      .select("uuid").as[String].head() == "uuid-NEW")
  }

  test("set-column order change is a noop; scalar change is an update; missing key soft-deletes") {
    val store = freshStore()
    store.merge("vertices", v1, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    val v2 = Seq(
      ("d1", "melanoma", Seq("solid"), false), // unchanged
      ("d2", "glioma", Seq("cns"), true) // deprecated flips → update
      // d3 absent → soft delete
    ).toDF("sourceId", "name", "subsets", "deprecated")
    val c = store.merge("vertices", v2, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"),
      softDelete = true)
    assert(c == Map("noop" -> 1L, "update" -> 1L, "delete" -> 1L))
    val state = store.read("vertices").get
    assert(state.count() == 2) // d3 dropped
    assert(state.filter(col("sourceId") === "d2")
      .select("deprecated").as[Boolean].head())
  }

  test("K5 edge upsert: second run creates nothing") {
    val store = freshStore()
    val e1 = Seq(("a", "b", "SubClassOf"), ("b", "c", "SubClassOf"))
      .toDF("out", "in", "edgeClass")
    assert(store.upsertEdges(e1) == Map("created" -> 2L))
    val e2 = Seq(("a", "b", "SubClassOf"), ("a", "c", "AliasOf"))
      .toDF("out", "in", "edgeClass")
    assert(store.upsertEdges(e2) == Map("created" -> 1L))
    assert(store.read("edges").get.count() == 3)
    // same (out,in) under a different class is a distinct edge
    assert(store.read("edges").get
      .filter(col("out") === "a").count() == 2)
    // an all-duplicate replay creates nothing AND writes no layer
    val vBefore = store.latestVersion("edges")
    assert(store.upsertEdges(e1) == Map("created" -> 0L))
    assert(store.latestVersion("edges") == vBefore,
      "a zero-create edge batch must not write a version layer")
    assert(store.read("edges").get.count() == 3)
  }

  test("K7 source upsert keyed by name") {
    val store = freshStore()
    val s1 = Seq(("civic", "https://civicdb.org", "v1")).toDF("name", "url", "version")
    assert(store.upsertSource(s1) == Map("create" -> 1L))
    val s2 = Seq(("civic", "https://civicdb.org", "v2")).toDF("name", "url", "version")
    assert(store.upsertSource(s2) == Map("update" -> 1L))
    assert(store.read("sources").get.select("version").as[String].head() == "v2")
  }

  test("upsert merge rewrites only touched buckets; readers layer versions") {
    val dir = Files.createTempDirectory("graft-store")
    val store = new PersistentGraphStore(spark, dir.toString, nBuckets = 8)
    val full = (1 to 64).map(i => (s"id$i", s"name$i"))
      .toDF("sourceId", "name")
    store.merge("vertices", full, Seq("sourceId"), compareCols = Seq("name"))
    val v1Buckets = Files.list(dir.resolve("vertices/v=00001")).iterator()
    val n1 = {
      var n = 0
      v1Buckets.forEachRemaining(p =>
        if (p.getFileName.toString.startsWith("__b=")) n += 1)
      n
    }
    assert(n1 > 1, "64 keys over 8 buckets must span several buckets")

    // second merge updates ONE key → exactly that key's bucket is rewritten
    val one = Seq(("id7", "renamed")).toDF("sourceId", "name")
    val c = store.merge("vertices", one, Seq("sourceId"), compareCols = Seq("name"))
    assert(c("update") == 1L)
    val v2 = dir.resolve("vertices/v=00002")
    val n2 = {
      var n = 0
      Files.list(v2).iterator().forEachRemaining(p =>
        if (p.getFileName.toString.startsWith("__b=")) n += 1)
      n
    }
    assert(n2 == 1, s"one-key merge must rewrite exactly one bucket, wrote $n2")

    // read-back layers v2's bucket over v1: full row count, new value visible
    val state = store.read("vertices").get
    assert(state.count() == 64)
    assert(state.filter(col("sourceId") === "id7")
      .select("name").as[String].head() == "renamed")
    // mismatched merge key is refused — pruning would be unsound
    assertThrows[IllegalArgumentException](
      store.merge("vertices", one, Seq("name"), compareCols = Seq("sourceId")))
  }

  test("K8 null-padded composite key: nulls join the unique key (<=>)") {
    val store = freshStore()
    val variants = Seq(
      ("kras", Some("G12D"), null.asInstanceOf[String], "p.G12D"),
      ("kras", Some("G12D"), "germline", "p.G12D"),
      ("alk", None, null.asInstanceOf[String], "fusion")
    ).toDF("reference1", "name", "germline", "repr")
    val c1 = store.merge("variants", variants,
      keyCols = Seq("reference1", "name", "germline"), compareCols = Seq("repr"))
    assert(c1 == Map("create" -> 3L))
    // identical null-keyed rows come back as noop, not duplicate creates
    val c2 = store.merge("variants", variants,
      keyCols = Seq("reference1", "name", "germline"), compareCols = Seq("repr"))
    assert(c2 == Map("noop" -> 3L))
  }

  test("compact folds layers into one _FULL snapshot; old layers pruned") {
    val dir = Files.createTempDirectory("graft-store")
    val store = new PersistentGraphStore(spark, dir.toString, nBuckets = 8)
    store.merge("vertices", v1, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    store.merge("vertices",
      Seq(("d2", "glioma-renamed", Seq("cns"), false))
        .toDF("sourceId", "name", "subsets", "deprecated"),
      Seq("sourceId"), compareCols = Seq("name", "deprecated"),
      setCols = Seq("subsets"))
    assert(store.latestVersion("vertices").contains(2))

    val v = store.compact("vertices")
    assert(v.contains(3))
    // superseded layers are gone; only the snapshot remains
    assert(!Files.exists(dir.resolve("vertices/v=00001")))
    assert(!Files.exists(dir.resolve("vertices/v=00002")))
    assert(Files.exists(dir.resolve("vertices/v=00003/_FULL")))
    // reads resolve from the compacted snapshot: full state, update visible
    val state = store.read("vertices").get
    assert(state.count() == 3)
    assert(state.filter(col("sourceId") === "d2")
      .select("name").as[String].head() == "glioma-renamed")
    // the snapshot is a valid base for further merges
    val c = store.merge("vertices",
      Seq(("d4", "new", Seq.empty[String], false))
        .toDF("sourceId", "name", "subsets", "deprecated"),
      Seq("sourceId"), compareCols = Seq("name", "deprecated"),
      setCols = Seq("subsets"))
    assert(c("create") == 1L)
    assert(store.read("vertices").get.count() == 4)
  }

  test("auto-compaction fires at the layer threshold during merges") {
    val dir = Files.createTempDirectory("graft-store")
    val store = new PersistentGraphStore(spark, dir.toString, nBuckets = 8,
      compactEvery = 3)
    // a lazy frame taken BEFORE auto-compaction fires: it references the
    // early layer files, which auto-compaction must therefore NOT delete
    store.merge("vertices", Seq(("id0", "name0")).toDF("sourceId", "name"),
      Seq("sourceId"), compareCols = Seq("name"))
    val lazyEarly = store.read("vertices").get
    (1 to 5).foreach { i =>
      store.merge("vertices", Seq((s"id$i", s"name$i")).toDF("sourceId", "name"),
        Seq("sourceId"), compareCols = Seq("name"))
    }
    def nLayers = {
      var n = 0
      Files.list(dir.resolve("vertices")).iterator().forEachRemaining(p =>
        if (p.getFileName.toString.startsWith("v=")) n += 1)
      n
    }
    // a reader walks at most `compactEvery` live layers (newest _FULL and
    // above); superseded directories are retained for outstanding reads
    val live = {
      val vdir = dir.resolve("vertices")
      val names = Files.list(vdir).iterator()
      var vs = List.empty[Int]
      names.forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v=")) vs ::= n.drop(2).toInt
      }
      val snap = vs.sorted.reverse
        .find(v => Files.exists(vdir.resolve(f"v=$v%05d/_FULL"))).getOrElse(0)
      vs.count(_ >= snap)
    }
    assert(live <= 3, s"auto-compaction must bound live layers, saw $live")
    assert(store.read("vertices").get.count() == 6)
    // the pre-compaction lazy frame still materializes — its files survive
    assert(lazyEarly.count() == 1)
    // vacuum at a safe point reclaims the superseded directories
    assert(nLayers > live)
    store.vacuumAll()
    assert(nLayers == live, s"vacuum must prune superseded layers")
    assert(store.read("vertices").get.count() == 6)
  }

  // ---- one-wave, bucket-balanced layer writes ------------------------------

  private val nBuckets = 32
  private def slots = spark.sparkContext.defaultParallelism

  /** Bucket ids `df` lands in under the store's bucketing of `keys`. */
  private def bucketsOf(df: DataFrame, keys: String*): Set[Int] =
    df.select(pmod(xxhash64(keys.map(col): _*), lit(nBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet

  /** Task counts of the stages in which a result task wrote output. */
  private class WriteStages extends SparkListener {
    private val numTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val writing = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      numTasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskType == "ResultTask" && e.taskMetrics != null &&
          e.taskMetrics.outputMetrics.bytesWritten > 0) writing.add(e.stageId)
    def tasks: Seq[Int] = writing.asScala.toSeq.sorted.map(numTasks.get(_))
  }

  /** Run `op`, which must write one layer of `table` holding exactly
    * `buckets`, and check the one-wave layout: one file per bucket, one
    * write stage of min(#buckets, slots) tasks, and the bucket of sorted
    * rank r written by task r mod n — so per-task bucket counts differ by
    * at most one.
    */
  private def assertOneWave(root: Path, store: PersistentGraphStore,
      table: String, buckets: Set[Int])(op: => Unit): Unit = {
    val before = store.latestVersion(table)
    val listener = new WriteStages
    spark.sparkContext.addSparkListener(listener)
    try { op; TestListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    val v = store.latestVersion(table)
    assert(v.isDefined && v != before, s"$table: no layer written")
    val n = math.min(buckets.size, slots)
    assert(listener.tasks == Seq(n),
      s"$table: write stage task counts ${listener.tasks}, want one stage of $n")
    val vDir = root.resolve(f"$table/v=${v.get}%05d")
    val files: Map[Int, Seq[Int]] = Files.list(vDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("__b="))
      .map { b =>
        b.getFileName.toString.drop(4).toInt ->
          Files.list(b).iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("part-")).map(_.slice(5, 10).toInt).toSeq
      }.toMap
    assert(files.keySet == buckets, s"$table: buckets written")
    assert(files.values.forall(_.size == 1),
      s"$table: files per bucket ${files.filter(_._2.size != 1)}")
    val task = files.view.mapValues(_.head).toMap
    buckets.toSeq.sorted.zipWithIndex.foreach { case (b, r) =>
      assert(task(b) == r % n, s"$table: bucket $b (rank $r) on task ${task(b)}")
    }
    val perTask = task.values.groupBy(identity).values.map(_.size)
    assert(perTask.size == n && perTask.max - perTask.min <= 1,
      s"$table: buckets per task $perTask")
  }

  private def terms(ids: Range, tag: String) =
    ids.map(i => (s"t$i", s"$tag$i")).toDF("sourceId", "name")

  test("upsert merge, first write, soft-delete snapshot and compact " +
    "each write one balanced wave") {
    val root = Files.createTempDirectory("graft-store")
    val store = new PersistentGraphStore(spark, root.toString, nBuckets)
    def merge(df: DataFrame, softDelete: Boolean = false) =
      store.merge("terms", df, Seq("sourceId"), compareCols = Seq("name"),
        softDelete = softDelete)
    val base = terms(0 until 2000, "n")
    val all = bucketsOf(base, "sourceId")
    assert(all.size == nBuckets)
    // first write: routed over the whole bucket domain
    assertOneWave(root, store, "terms", all)(merge(base))
    // an upsert that changes a row in every bucket it touches
    val delta = terms(0 until 2000 by 5, "u")
    assertOneWave(root, store, "terms", bucketsOf(delta, "sourceId"))(merge(delta))
    // a trickle: fewer buckets than task slots, one bucket per task
    val trickle = terms(0 until 3, "w")
    val few = bucketsOf(trickle, "sourceId")
    assert(few.size < slots)
    assertOneWave(root, store, "terms", few)(merge(trickle))
    // soft delete: the _FULL snapshot holds every bucket with a survivor
    val snapshot = terms(0 until 1000, "n")
    assertOneWave(root, store, "terms", bucketsOf(snapshot, "sourceId"))(
      merge(snapshot, softDelete = true))
    store.merge("terms", terms(2000 until 2002, "x"), Seq("sourceId"),
      compareCols = Seq("name"))
    val live = bucketsOf(store.read("terms").get, "sourceId")
    assertOneWave(root, store, "terms", live)(store.compact("terms"))
    assert(store.read("terms").get.count() == 1002)
  }

  test("edge upsert writes one balanced wave, first write and delta") {
    val root = Files.createTempDirectory("graft-store")
    val store = new PersistentGraphStore(spark, root.toString, nBuckets)
    def edges(ids: Range) = ids.map(i => (s"a$i", s"b$i", "SubClassOf"))
      .toDF("out", "in", "edgeClass")
    val first = edges(0 until 1500)
    assertOneWave(root, store, "edges", bucketsOf(first, store.EdgeKey: _*))(
      store.upsertEdges(first))
    val delta = edges(1000 until 1300)
    val fresh = edges(1500 until 1800)
    // only buckets holding a fresh edge are rewritten, so the fresh edges
    // must cover every candidate bucket for the layer to hold them all
    assert(bucketsOf(fresh, store.EdgeKey: _*) ==
      bucketsOf(delta.union(fresh), store.EdgeKey: _*))
    assertOneWave(root, store, "edges", bucketsOf(fresh, store.EdgeKey: _*))(
      assert(store.upsertEdges(delta.union(fresh)) == Map("created" -> 300L)))
    assert(store.read("edges").get.count() == 1800)
  }

  test("layer routing ≡ brute-force round-robin on random bucket sets") {
    // route() promises: n = min(#buckets, slots) partitions, and Spark's
    // hash partitioning of each bucket's key — pmod(hash(key), n), the
    // expression repartition(n, key) evaluates — is the bucket's sorted
    // rank mod n. Checked through Spark itself, for random bucket subsets
    // and slot counts 1–64
    val rnd = new scala.util.Random(20261017L)
    val trials = (0 until 200).map { t =>
      val buckets = (0 until nBuckets).filter(_ => rnd.nextInt(3) > 0) match {
        case Seq() => Seq(rnd.nextInt(nBuckets))
        case bs => bs
      }
      val slotCount = 1 + rnd.nextInt(64)
      val (n, keys) = PersistentGraphStore.route(rnd.shuffle(buckets), slotCount)
      assert(n == math.min(buckets.size, slotCount))
      assert(keys.keySet == buckets.toSet)
      (t, n, buckets.sorted.zipWithIndex.map { case (b, r) => (b, r % n, keys(b)) })
    }
    val rows = trials.flatMap { case (t, n, bs) =>
      bs.map { case (b, slot, key) => (t, n, b, slot, key) }
    }.toDF("t", "n", "b", "slot", "key")
    val wrong = rows.filter(pmod(hash(col("key")), col("n")) =!= col("slot"))
    assert(wrong.count() == 0, wrong.limit(5).collect().mkString(", "))
    // and through a real shuffle, for a few of them
    trials.take(4).foreach { case (t, n, bs) =>
      val got = bs.map { case (b, _, key) => (b, key) }.toDF("b", "key")
        .repartition(n, col("key"))
        .select(col("b"), spark_partition_id().as("p"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      bs.foreach { case (b, slot, _) =>
        assert(got(b) == slot, s"trial $t: bucket $b on ${got(b)}, want $slot")
      }
    }
  }

  test("merge and upsertEdges leave a caller-owned cache in place") {
    val store = freshStore()
    val cached = v1.persist()
    try {
      (1 to 2).foreach(_ => store.merge("vertices", cached, Seq("sourceId"),
        compareCols = Seq("name", "deprecated"), setCols = Seq("subsets")))
      assert(cached.storageLevel != StorageLevel.NONE,
        "merge dropped the caller's cache")
    } finally cached.unpersist()
    val edges = Seq(("a", "b", "SubClassOf")).toDF("out", "in", "edgeClass")
      .persist()
    try {
      (1 to 2).foreach(_ => store.upsertEdges(edges))
      assert(edges.storageLevel != StorageLevel.NONE,
        "upsertEdges dropped the caller's cache")
    } finally edges.unpersist()
    // a frame the store cached itself is released again
    val own = v1.filter(col("sourceId") =!= "zz")
    store.merge("vertices", own, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    assert(own.storageLevel == StorageLevel.NONE)
  }
}
