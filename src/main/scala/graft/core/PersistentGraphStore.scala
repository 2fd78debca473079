package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed persistent graph store: vertices and edges survive the
  * job, and re-running the same merge is a no-op (idempotent upsert —
  * reference `addRecord` graphkb.js:545-612 made set-based).
  *
  * Layout — bucketed version layers, the Delta/Iceberg MERGE pattern
  * without the table format:
  *
  * {{{
  * <root>/<table>/_meta.json            # nBuckets + bucketCols, fixed at creation
  * <root>/<table>/v=00001/_SUCCESS
  * <root>/<table>/v=00001/__b=0/part-*.parquet
  * <root>/<table>/v=00001/__b=7/part-*.parquet
  * <root>/<table>/v=00002/__b=7/...     # only the buckets THIS merge touched
  * }}}
  *
  * Rows are hash-bucketed by the table's natural key
  * (`pmod(xxhash64(key...), nBuckets)`). A version directory contains only
  * the buckets its merge rewrote; a reader resolves, per bucket, the
  * newest version that wrote it and unions those leaf directories. Since a
  * key always lands in the same bucket, an upsert merge only needs to READ
  * the buckets the incoming batch touches and only WRITES the buckets the
  * batch actually CHANGES (non-noop action, or a noop whose carry columns
  * differ — the classify output carries a per-row rewrite flag): an
  * idempotent replay writes no layer at all, and a trickle update rewrites
  * one bucket, not every touched one — at 100 TB the per-batch write cost
  * is O(changed buckets), not O(touched buckets) or O(table). Stored set
  * columns are always sorted (first write included), so the rewrite flag's
  * normalized comparison equals a stored-bytes comparison.
  *
  * Soft-delete merges (absent key ⇒ tombstone) inherently compare the full
  * key set, so they read and rewrite every bucket — that cost is in the
  * semantics, not the layout.
  *
  * Crash safety: readers only consider version directories with a
  * `_SUCCESS` marker, so a torn write is invisible. Audit-counter caveat:
  * a pruned merge never scans untouched buckets, so their retained rows
  * are not counted as `noop`.
  */
class PersistentGraphStore(spark: SparkSession, root: String, nBuckets: Int = 32,
    compactEvery: Int = 64) {

  private def tableDir(table: String) = s"$root/$table"

  // ---- per-table write serialization --------------------------------------
  // Concurrent loaders (level-parallel orchestration) may target the SAME
  // table; version allocation is read-latest+1, so unsynchronized writers
  // would both claim v=N+1 and one layer would vanish. A per-table monitor
  // serializes mutators per table while leaving writes to DIFFERENT tables
  // fully concurrent. Driver-side only — one store instance per JVM owns a
  // root; multi-driver coordination is a table-format concern (Delta/
  // Iceberg), out of scope here.
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(table, _ => new Object)

  // ---- per-table bucketing metadata --------------------------------------

  private case class Meta(nBuckets: Int, bucketCols: Seq[String])

  private def metaPath(table: String) = Paths.get(tableDir(table), "_meta.json")

  private def readMeta(table: String): Option[Meta] = {
    val p = metaPath(table)
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), "UTF-8")
      val n = """"nBuckets"\s*:\s*(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
      val cols = """"bucketCols"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(s).get
        .group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq
      Some(Meta(n, cols))
    }
  }

  /** Resolve (or create) the table's bucketing; the natural key must be
    * stable across merges — pruning is only sound when every merge buckets
    * by the same columns.
    */
  private def metaFor(table: String, bucketCols: Seq[String]): Meta =
    readMeta(table) match {
      case Some(m) =>
        require(m.bucketCols == bucketCols,
          s"table '$table' is bucketed by ${m.bucketCols.mkString(",")}; " +
            s"merge keyed by ${bucketCols.mkString(",")} cannot prune safely")
        m
      case None =>
        val m = Meta(nBuckets, bucketCols)
        Files.createDirectories(Paths.get(tableDir(table)))
        Files.write(metaPath(table),
          (s"""{"nBuckets": ${m.nBuckets}, "bucketCols": [""" +
            m.bucketCols.map("\"" + _ + "\"").mkString(", ") + "]}")
            .getBytes("UTF-8"))
        m
    }

  private def bucketExpr(m: Meta): Column =
    pmod(xxhash64(m.bucketCols.map(col): _*), lit(m.nBuckets))

  // ---- version / bucket resolution ---------------------------------------

  private def versions(table: String): Seq[(Int, String)] = {
    val dir = Paths.get(tableDir(table))
    if (!Files.exists(dir)) Seq.empty
    else {
      val stream = Files.list(dir) // must be closed — leaks a directory fd otherwise
      try {
        val it = stream.iterator()
        val buf = Seq.newBuilder[(Int, String)]
        while (it.hasNext) {
          val p = it.next()
          val name = p.getFileName.toString
          if (name.startsWith("v=") && Files.exists(p.resolve("_SUCCESS")))
            buf += ((name.drop(2).toInt, p.toString))
        }
        buf.result().sortBy(_._1)
      } finally stream.close()
    }
  }

  def latestVersion(table: String): Option[Int] = versions(table).lastOption.map(_._1)

  /** Per-bucket newest leaf directories: (bucketId, path), walking versions
    * newest-first so the first sighting of a bucket wins. A version marked
    * `_FULL` is a complete snapshot — buckets absent from it (and from any
    * newer layer) are EMPTY, not inherited: a soft-delete can empty a
    * bucket entirely, which the layering alone cannot represent.
    */
  /** Snapshot isolation for level-concurrent orchestration: while a pin
    * is set (per thread-crossing @volatile), PUBLIC [[read]] resolves
    * against the version listing captured at pin time — same-level
    * sibling writes allocate new versions as usual but stay invisible
    * until the next pin. This gives Snakemake semantics independent of
    * thread interleaving: a level sees exactly its predecessors'
    * completed outputs. INTERNAL reads (merge classify, edge anti-join,
    * compaction, [[readLatest]]) always see the latest state — two
    * same-level loaders merging one table are serialized by the table
    * lock and the second's classify MUST include the first's rows, or
    * its bucket rewrite would drop them.
    */
  @volatile private var pinnedVersions: Option[Map[String, Int]] = None

  /** Capture the current per-table version ceiling for public reads. */
  def pinVersions(): Unit = {
    val dir = Paths.get(root)
    val tables =
      if (!Files.exists(dir)) Seq.empty[String]
      else {
        val stream = Files.list(dir)
        try {
          val it = stream.iterator()
          val buf = Seq.newBuilder[String]
          while (it.hasNext) {
            val p = it.next()
            if (Files.isDirectory(p)) buf += p.getFileName.toString
          }
          buf.result()
        } finally stream.close()
      }
    pinnedVersions = Some(
      tables.map(t => t -> versions(t).lastOption.map(_._1).getOrElse(-1)).toMap)
  }

  def unpinVersions(): Unit = pinnedVersions = None

  /** Version listing as PUBLIC reads see it: pin-filtered when pinned
    * (a table created after the pin reads as absent).
    */
  private def visibleVersions(table: String): Seq[(Int, String)] =
    pinnedVersions match {
      case Some(p) => versions(table).filter(_._1 <= p.getOrElse(table, -1))
      case None => versions(table)
    }

  private def leafDirs(table: String): Seq[(Int, String)] =
    leafDirsOf(visibleVersions(table))

  private def leafDirsLatest(table: String): Seq[(Int, String)] =
    leafDirsOf(versions(table))

  private def leafDirsOf(vs: Seq[(Int, String)]): Seq[(Int, String)] = {
    val seen = scala.collection.mutable.Map.empty[Int, String]
    val newestFirst = vs.reverse.iterator
    var done = false
    while (newestFirst.hasNext && !done) {
      val (_, vPath) = newestFirst.next()
      val stream = Files.list(Paths.get(vPath))
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val p = it.next()
          val name = p.getFileName.toString
          if (name.startsWith("__b=")) {
            val b = name.drop(4).toInt
            if (!seen.contains(b)) seen(b) = p.toString
          }
        }
      } finally stream.close()
      done = Files.exists(Paths.get(vPath, "_FULL")) // full snapshot: stop layering
    }
    seen.toSeq.sortBy(_._1)
  }

  /** Latest table state (newest layer of every bucket), or None before the
    * first write. The bucket column is not materialized — it is derivable
    * from the key columns.
    */
  /** Leaf dirs from more than one version layer may carry different
    * schemas (see merge's alignment) and need mergeSchema; a single
    * version's buckets share one schema, so the footer-merge cost is
    * skipped for the common post-compaction case.
    *
    * r19 per-dir schema cache: a published leaf directory is IMMUTABLE
    * (layers are staged and atomically renamed, never rewritten), so its
    * INFERRED schema is read once and cached — caching only what
    * inference returns keeps the cached path byte-identical to today's
    * (no write-plan-vs-parquet nullability drift). When every requested
    * dir carries the SAME schema (the overwhelmingly common case:
    * schema evolution only happens where different sources share a
    * table), the read passes that schema explicitly and Spark skips
    * footer inference; genuinely mixed schemas keep today's mergeSchema
    * path. Measured motivation: readDirs construction was ~10% of the
    * DAG's store time (BenchDag r19 instrumentation), and dimension
    * tables are re-read by almost every loader — only a NEW layer's
    * dirs ever pay inference, once each.
    */
  private val dirSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Schema of a leaf (`.../v=NNNNN/__b=K`) directory, cached per VERSION
    * directory: every bucket of a layer was written by one plan, so one
    * inference covers all 32 — per-bucket inference would pay a listing
    * per dir and LOSE to the single multi-dir read it replaces (measured:
    * readplan 10 → 41 s/pass on the first attempt). The version-dir read
    * sees the `__b=` partition column; strip it — a leaf-dir read does
    * not surface it.
    */
  private def dirSchema(dir: String): org.apache.spark.sql.types.StructType = {
    val vDir = dir.substring(0, dir.lastIndexOf('/'))
    dirSchemaCache.computeIfAbsent(vDir, d =>
      org.apache.spark.sql.types.StructType(
        spark.read.parquet(d).schema.fields.filterNot(_.name == "__b")))
  }


  private def readDirs(dirs: Seq[String]): DataFrame = StoreTimers.readPlan {
    val schemas = dirs.map(dirSchema).distinct
    if (schemas.length == 1) spark.read.schema(schemas.head).parquet(dirs: _*)
    else {
      val versions = dirs.map(_.split("/").takeRight(2).head).distinct
      spark.read
        .option("mergeSchema", (versions.length > 1).toString)
        .parquet(dirs: _*)
    }
  }

  def read(table: String): Option[DataFrame] = StoreTimers.entry {
    val dirs = leafDirs(table)
    if (dirs.isEmpty) None else Some(readDirs(dirs.map(_._2)))
  }

  /** Latest state regardless of any active pin — read-your-own-writes
    * semantics for a loader that merges a table and re-reads it within
    * one pinned level (e.g. fetch-fallback hydration).
    */
  def readLatest(table: String): Option[DataFrame] = StoreTimers.entry {
    val dirs = leafDirsLatest(table)
    if (dirs.isEmpty) None else Some(readDirs(dirs.map(_._2)))
  }

  /** Read only the given buckets' newest layers — internal (merge/edge)
    * path, always latest: classify must see same-level sibling writes.
    */
  private def readBuckets(table: String, buckets: Set[Int]): Option[DataFrame] = {
    val dirs = leafDirsLatest(table).collect { case (b, p) if buckets(b) => p }
    if (dirs.isEmpty) None else Some(readDirs(dirs))
  }

  /** Schema evolution: columns `cols` that `df` lacks are added as typed
    * nulls (type taken from `ref`). Lets several sources with different
    * payload columns share one class table — the classify comparison needs
    * its compare columns present on BOTH sides.
    */
  private def alignTo(df: DataFrame, ref: DataFrame, cols: Seq[String]): DataFrame =
    cols.filterNot(df.columns.contains).foldLeft(df) { (d, c) =>
      d.withColumn(c, lit(null).cast(ref.schema(c).dataType))
    }

  /** Buckets the incoming frame lands in — one global collect_set agg
    * (at most nBuckets values): each task partial-aggs its slice to ≤
    * nBuckets ints, so the job ships integers, not rows — the cheapest
    * action that can materialize the (persisted) incoming frame.
    */
  private def touchedBuckets(df: DataFrame, m: Meta): Set[Int] =
    StoreTimers.touch {
      df.agg(collect_set(bucketExpr(m).cast("int")).as("__bs"))
        .collect()(0).getSeq[Int](0).toSet
    }

  // NOTE (r18 negative result, kept for the record): a variant that
  // fused bucket discovery into the write action for small tables (read
  // ALL leaf dirs + in-plan broadcast semi-join on the bucket id instead
  // of the touchedBuckets collect + driver-pruned read) was built and
  // A/B'd with BenchDag — and LOST: write-action wall more than doubled
  // (103.9 s → 226.8 s over the two-pass DAG). Saving one driver action
  // per merge did not pay for reading every bucket directory per merge
  // (10-30× the file opens + mergeSchema footers on layered fixtures)
  // plus the extra broadcast exchange inside the write job. The
  // collect-then-prune shape below stays.

  /** Write the next version layer. `df` must be the COMPLETE new content of
    * every bucket it contains rows for — buckets without rows keep their
    * previous layer, unless `full` marks this version as a complete
    * snapshot (then absent buckets are empty). The layer is routed over
    * the table's whole bucket domain: which buckets `df` fills is not
    * known without a job of its own.
    */
  def write(table: String, df: DataFrame, bucketCols: Seq[String],
      full: Boolean = false): Int = StoreTimers.entry {
    val m = metaFor(table, bucketCols)
    writeLayer(table, df, m, 0 until m.nBuckets, full)
  }

  /** [[write]] with the set of buckets the layer fills named by the
    * caller (soft-delete snapshot, compaction), so the write wave is sized
    * to them rather than to the bucket domain.
    */
  private def writeLayer(table: String, df: DataFrame, m: Meta,
      buckets: Seq[Int], full: Boolean): Int = {
    val plan = routed(df.withColumn("__b", bucketExpr(m)), buckets).drop(Route)
    writeStaged(table, plan, full)(keep = true).get
  }

  /** Routing column of a layer shuffle; dropped before the write. */
  private val Route = "__route"

  /** Co-locate each bucket's rows in ONE task before the dynamic-partition
    * write, so a layer holds exactly one file per bucket (without this
    * shuffle the upstream key-hash partitioning spreads every bucket over
    * every task: 1049 files in one fixture edges layer, each re-opened by
    * every later merge).
    *
    * One wave, balanced: the shuffle has n = min(#buckets, task slots)
    * partitions and the sorted bucket ids are dealt to them round-robin,
    * so per-task bucket counts differ by at most one. Hashing `__b`
    * directly does not balance (32 buckets into 4 partitions land
    * 14/7/6/5; into 32 partitions, 12 stay empty), so each row carries an
    * int routing key, chosen on the driver, whose Spark hash partition is
    * its bucket's slot ([[PersistentGraphStore.route]]): no extra job, no
    * range sampling. A write task's cost is mostly fixed (~40 ms to
    * deserialize) and per file, not per row, so one wave of n tasks beats
    * one task per bucket in B/n waves: on a 4-core host the perfbench
    * `resync` delta write fell from 3.49 to 2.92 s (median of 12 pairs)
    * and store tasks per unit from 112 to 64. At ≥ B slots this is one
    * task per bucket, the layout whose parallel parquet-writer opens the
    * r18 A/B kept over the AQE-coalescible `repartition(col)` form
    * (BenchDag 222 s vs 386-414 s).
    *
    * The explicit partition count keeps AQE from coalescing the shuffle.
    * The frame keeps [[Route]] so a per-bucket window can partition by
    * (`__b`, [[Route]]), which the shuffle already clusters, adding no
    * exchange; callers drop it before the write.
    */
  private def routed(bucketed: DataFrame, buckets: Seq[Int]): DataFrame = {
    val (n, keys) = PersistentGraphStore.route(buckets,
      spark.sparkContext.defaultParallelism)
    bucketed.withColumn(Route, element_at(typedLit(keys), col("__b").cast("int")))
      .repartition(n, col(Route))
  }

  /** Per-bucket max of the boolean `flag` over a [[routed]] frame. */
  private def anyInBucket(flag: Column): Column =
    max(flag.cast("int")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("__b"), col(Route)))

  /** Write an already-bucketed plan (`__b` column present and
    * repartitioned) to a STAGING directory, then publish it as the next
    * version layer iff `keep` — which is evaluated AFTER the write action
    * completes, so a caller can decide from an `Observation` folded into
    * the very write job whether the layer is worth keeping (the fused
    * classify+summarize+write path — one driver action instead of a
    * summary collect plus a conditional write).
    *
    * The staging name (`.tmp_v<n>`) never matches the `v=` prefix
    * [[versions]] lists, and publication is ONE atomic directory rename,
    * so concurrent readers can never observe a layer that is later
    * discarded — no transient-version race, no torn listing. A stale
    * staging dir (crashed predecessor) is reclaimed here: mutators of a
    * table are serialized by its lock, so any `.tmp_v` already present
    * when we start is an orphan.
    */
  private def writeStaged(table: String, plan: DataFrame, full: Boolean)(
      keep: => Boolean): Option[Int] = {
    val next = latestVersion(table).getOrElse(0) + 1
    val dir = Paths.get(f"${tableDir(table)}/v=$next%05d")
    val tmp = Paths.get(s"${tableDir(table)}/.tmp_v$next")
    if (Files.exists(tmp)) deleteRecursively(tmp.toString)
    StoreTimers.write {
      plan.write.partitionBy("__b").mode(SaveMode.Overwrite)
        .parquet(tmp.toString)
    }
    if (keep) {
      if (full) Files.createFile(tmp.resolve("_FULL"))
      Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Some(next)
    } else { deleteRecursively(tmp.toString); None }
  }

  /** Fold every version layer of `table` into a single `_FULL` snapshot.
    * Unbounded layering is a small-files + driver-listing problem: after
    * thousands of incremental merges, `leafDirs` walks thousands of version
    * directories per read. Compaction resets that to one. The snapshot is
    * written (and `_SUCCESS`-committed) BEFORE any old layer is deleted, so
    * a crash mid-compact leaves a readable table.
    *
    * `prune = false` keeps the superseded layer directories on disk: any
    * lazy DataFrame previously returned by read()/readBuckets() and not yet
    * materialized still references those files, and deleting them
    * mid-session would throw FileNotFoundException at its eventual action.
    * Auto-compaction (inside merge/upsertEdges) therefore never prunes —
    * readers already stop at the `_FULL` layer, so the read-cost reset is
    * immediate — and callers reclaim the space with [[vacuum]] at a safe
    * point (e.g. the end of an orchestration run, when no outstanding
    * frames exist).
    *
    * Returns the snapshot's version number, or None for an empty table.
    */
  def compact(table: String, prune: Boolean = true): Option[Int] =
    StoreTimers.entry { lockFor(table).synchronized {
      readMeta(table).flatMap { m =>
        // latest, never the pinned view: folding only pinned layers into
        // a NEW top snapshot would drop same-level writes above the pin
        val dirs = leafDirsLatest(table)
        if (dirs.isEmpty) None
        else {
          val v = writeLayer(table, readDirs(dirs.map(_._2)), m,
            dirs.map(_._1), full = true)
          if (prune) vacuum(table)
          Some(v)
        }
      }
    } }

  /** Version number of the newest `_FULL` snapshot layer, if any — THE
    * live-layer boundary: readers walk only layers >= this, vacuum may
    * delete only layers < this.
    */
  private def newestSnapshot(vs: Seq[(Int, String)]): Option[Int] =
    vs.reverse.find { case (_, p) => Files.exists(Paths.get(p, "_FULL")) }
      .map(_._1)

  /** Delete every version layer superseded by the newest `_FULL` snapshot.
    * Only safe when no lazy DataFrame from an earlier read() is still
    * pending materialization — call at orchestration boundaries.
    */
  def vacuum(table: String): Unit = StoreTimers.entry {
    val vs = versions(table)
    newestSnapshot(vs).foreach { snap =>
      vs.filter(_._1 < snap).foreach { case (_, p) => deleteRecursively(p) }
    }
  }

  /** [[vacuum]] over every table in the store. */
  def vacuumAll(): Unit = StoreTimers.entry {
    val dir = Paths.get(root)
    if (Files.exists(dir)) {
      val stream = Files.list(dir)
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (Files.isDirectory(p)) vacuum(p.getFileName.toString)
        }
      } finally stream.close()
    }
  }

  private def deleteRecursively(dir: String): Unit = Fs.deleteRecursively(dir)

  /** Compact when the layer count passes the threshold — called after
    * every merge so the amortized read cost stays O(1) layers. Never
    * prunes (see [[compact]]): superseded layers stay valid for any
    * outstanding lazy reads until an explicit [[vacuum]].
    */
  private def maybeCompact(table: String): Unit = {
    // only layers a reader actually walks count — superseded-but-unpruned
    // directories below the newest _FULL snapshot are invisible to leafDirs
    val vs = versions(table)
    val snap = newestSnapshot(vs).getOrElse(Int.MinValue)
    if (compactEvery > 0 && vs.count(_._1 >= snap.max(0)) >= compactEvery)
      compact(table, prune = false)
  }

  /** MERGE an incoming frame into `table` on `keyCols`: classify against
    * the current snapshot, persist the post-merge state, return audit
    * counters (created/updated/deleted/noop — K9).
    *
    * Upsert merges (softDelete = false) read and rewrite ONLY the buckets
    * the incoming batch touches. Soft-delete merges compare the full key
    * set (absence ⇒ tombstone), so they run over every bucket.
    */
  def merge(
      table: String,
      incoming: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String],
      setCols: Seq[String] = Nil,
      softDelete: Boolean = false): Map[String, Long] = StoreTimers.entry {
    StoreTimers.mergeCalls.incrementAndGet()
    // r19 lock narrowing: bucket discovery reads ONLY the caller's
    // incoming frame, so it runs BEFORE the table lock — same-table
    // siblings under level-concurrent orchestration overlap their
    // discovery jobs (25-40% of per-merge store time in the BenchDag
    // r19 attribution) instead of serializing their entire merges. The
    // lock still covers classify + version allocation + write, which is
    // what sibling visibility and layer integrity actually require; the
    // touched-bucket set is a pure function of `incoming`, so computing
    // it pre-lock cannot go stale. If the table doesn't exist yet the
    // discovery is skipped (first-write path); in the rare race where a
    // sibling creates it before we take the lock, mergeLocked computes
    // the set inside the lock exactly as before.
    val preDiscover = !softDelete && latestVersion(table).nonEmpty
    cachedWhile(preDiscover, incoming) {
      val pre =
        if (preDiscover)
          Some(touchedBuckets(incoming,
            lockFor(table).synchronized(metaFor(table, keyCols))))
        else None
      lockFor(table).synchronized {
        mergeLocked(table, incoming, keyCols, compareCols, setCols,
          softDelete, pre)
      }
    }
  }

  /** Run `f` with `df` cached when `cache` holds. A frame the caller has
    * already cached is used as it is and left cached: only a cache this
    * store created is dropped afterwards.
    */
  private def cachedWhile[T](cache: Boolean, df: DataFrame)(f: => T): T = {
    val owned = cache &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (owned) df.persist()
    try f finally if (owned) { df.unpersist(); () }
  }

  private def mergeLocked(
      table: String,
      incoming: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String],
      setCols: Seq[String],
      softDelete: Boolean,
      pre: Option[Set[Int]]): Map[String, Long] = {
    val m = metaFor(table, keyCols)
    def normalizeSets(df: DataFrame): DataFrame =
      setCols.foldLeft(df)((d, c) => d.withColumn(c, sort_array(col(c))))

    if (latestVersion(table).isEmpty) {
      // first write: everything creates, nothing to compare or skip —
      // one write action with the audit counter observed on it. Set
      // columns are sorted here too, so "stored set columns are always
      // sorted" holds from layer one (classifyInternal's rewrite flag
      // compares normalized values against stored bytes).
      val obs = org.apache.spark.sql.Observation()
      val observed = normalizeSets(incoming)
        .observe(obs, coalesce(count(lit(1)), lit(0L)).as("create"))
      write(table, observed, keyCols, full = true)
      val n = obs.get("create").asInstanceOf[Number].longValue
      return if (n == 0L) Map.empty else Map("create" -> n)
    }

    // the upsert branch evaluates `incoming` twice (bucket scan +
    // classify) — merge cached it pre-lock so an expensive upstream
    // pipeline runs once; soft-delete merges consume incoming exactly
    // once (no bucket scan), so caching would be pure overhead there.
    // Only the create-race path (a sibling created the table between the
    // pre-lock check and here) runs uncached: then the bucket scan and
    // classify each evaluate incoming — correct, marginally slower, and
    // rare by construction.
    val touched: Option[Set[Int]] =
      if (softDelete) None
      else Some(pre.getOrElse(touchedBuckets(incoming, m)))
    val current =
      if (softDelete) readLatest(table)
      else readBuckets(table, touched.get)
    locally {
      val payload = (compareCols ++ setCols).distinct
      val classified: DataFrame = current match {
        case Some(cur) =>
          GraphStore.classifyInternal(alignTo(cur, incoming, payload),
            incoming, keyCols, compareCols, setCols, softDelete)
        case None => // touched buckets never written before: pure creates
          normalizeSets(incoming)
            .withColumn(GraphStore.ACTION, lit("create"))
            .withColumn(GraphStore.REWRITE, lit(true))
      }

      if (softDelete) {
        // soft delete compares the FULL key set and its layer is a _FULL
        // snapshot carrying every bucket — a fused always-write would
        // rewrite the whole table even on an all-noop replay, so this
        // path keeps the summarize-then-decide shape: one bounded action
        // over the cached classify output (≤ 4·nBuckets rows), then a
        // conditional snapshot write.
        classified.persist()
        try {
          val cells = classified
            .groupBy(bucketExpr(m).cast("int").as("__b"),
              col(GraphStore.ACTION))
            .agg(count(lit(1)).as("n"),
              max(col(GraphStore.REWRITE).cast("int")).as("rw"))
            .collect()
          if (cells.exists(_.getInt(3) == 1)) {
            // the snapshot holds every bucket with a surviving row
            val kept = cells.filter(_.getString(1) != "delete")
              .map(_.getInt(0)).toSeq
            writeLayer(table,
              GraphStore.apply(classified.drop(GraphStore.REWRITE)), m,
              kept, full = true)
            maybeCompact(table)
          }
          cells.groupBy(_.getString(1)).view
            .mapValues(_.map(_.getLong(2)).sum).toMap.filter(_._2 != 0L)
        } finally { classified.unpersist(); () }
      } else {
        // fused classify → bucket shuffle → per-bucket rewrite flag →
        // observe()-folded audit counters → changed-buckets-only staged
        // write: ONE driver action instead of a summary collect plus a
        // conditional write (the summary job was a measurable per-merge
        // constant on many-tiny-merge DAGs), and `classified` no longer
        // needs a cache round-trip — the plan runs exactly once. Buckets
        // where no row would change stored bytes are filtered OUT of the
        // layer (the per-bucket window max over the classify rewrite
        // flag), so they KEEP their previous layer; when NO bucket
        // changed the staged directory is discarded before publication —
        // an idempotent replay still writes no layer at all, and a
        // mostly-noop incremental merge writes only its changed buckets
        // (the MERGE file-skipping analogue — at 100 TB the per-batch
        // write cost stays O(changed buckets), not O(touched buckets)).
        // The bucket shuffle the window needs is the SAME shuffle the
        // layer write wants anyway ([[routed]]: one wave, the touched
        // buckets dealt round-robin to min(touched, task slots) tasks);
        // an all-noop replay pays it on touched-bucket rows where the old
        // path paid a cache materialization — a wash. classified holds
        // rows of touched buckets only (current was pruned to them;
        // incoming defines them), so a trickle merge runs one task per
        // touched bucket and a batch touching every bucket runs one wave.
        val bucketed = routed(classified.withColumn("__b", bucketExpr(m)),
          touched.get.toSeq)
        val anyRewrite = anyInBucket(col(GraphStore.REWRITE))
        val obs = org.apache.spark.sql.Observation()
        val observed = bucketed
          .withColumn("__rw_b", anyRewrite)
          .observe(obs,
            coalesce(sum(col(GraphStore.REWRITE).cast("long")), lit(0L))
              .as("rewrites"),
            GraphStore.ACTIONS.map(a =>
              count(when(col(GraphStore.ACTION) === a, 1)).as(a)): _*)
        val toWrite = GraphStore.apply(
          observed.filter(col("__rw_b") === 1)
            .drop("__rw_b", Route, GraphStore.REWRITE))
        writeStaged(table, toWrite, full = false) {
          obs.get("rewrites").asInstanceOf[Number].longValue > 0L
        }.foreach(_ => maybeCompact(table))
        GraphStore.ACTIONS
          .map(a => a -> obs.get(a).asInstanceOf[Number].longValue)
          .toMap.filter(_._2 != 0L)
      }
    }
  }

  val EdgeKey: Seq[String] = Seq("out", "in", "edgeClass")

  /** K5 — edge upsert: only candidates absent from the live edge set are
    * created (the reference's `edgeExists` anti-join, `fetchExisting:
    * false` semantics). Edges are keyed (out, in, edgeClass); a duplicate
    * can only live in its own bucket, so both the existence anti-join and
    * the rewrite touch candidate buckets only — and the touched buckets
    * are read ONCE, feeding the anti-join and the new layer's union.
    */
  def upsertEdges(rawCandidates: DataFrame): Map[String, Long] =
    StoreTimers.entry {
      StoreTimers.mergeCalls.incrementAndGet()
      // the reference's per-record edgeExists check suppresses duplicates
      // WITHIN one batch too (a trial listing the same intervention twice
      // creates one edge) — dedup here so every caller gets that semantics
      val candidates = rawCandidates.dropDuplicates(EdgeKey)
      // same pre-lock bucket discovery as merge (see the r19 note there):
      // the scan reads only the caller's candidates, so concurrent
      // loaders' edge upserts overlap it instead of serializing on the
      // edges lock; the anti-join + write stay under the lock
      val preDiscover = latestVersion("edges").nonEmpty
      cachedWhile(preDiscover, candidates) {
        val pre =
          if (preDiscover)
            Some(touchedBuckets(candidates,
              lockFor("edges").synchronized(metaFor("edges", EdgeKey))))
          else None
        lockFor("edges").synchronized { upsertEdgesLocked(candidates, pre) }
      }
    }

  private def upsertEdgesLocked(candidates: DataFrame,
      pre: Option[Set[Int]]): Map[String, Long] = {
    val m = metaFor("edges", EdgeKey)
    locally {
      val touched: Option[Set[Int]] =
        if (latestVersion("edges").isEmpty) None
        else Some(pre.getOrElse(touchedBuckets(candidates, m)))
      val existing = touched.flatMap(readBuckets("edges", _))
      // fused anti-join → union → per-bucket fresh flag → observed created
      // count → fresh-buckets-only staged write: the separate fresh.count()
      // job (and the fresh cache round-trip) fold into the write action —
      // same shape as the fused merge path above. An all-duplicate batch —
      // the idempotent replay — observes created = 0 and the staged layer
      // is discarded unpublished; only buckets holding ≥ 1 genuinely new
      // edge are rewritten (allowMissingColumns: some sources carry edge
      // payload columns — actionType, uuid — the others lack).
      val layer = existing match {
        case Some(e) =>
          e.withColumn("__fresh", lit(false)).unionByName(
            GraphStore.newEdges(e, candidates).withColumn("__fresh", lit(true)),
            allowMissingColumns = true)
        case None => candidates.withColumn("__fresh", lit(true))
      }
      // same one-wave layer shuffle as merge ([[routed]]), over the
      // candidate buckets: the layer holds their rows only (existing was
      // pruned to them; every candidate edge lands in one of them by
      // definition). The first write routes over the whole bucket domain.
      val bucketed = routed(layer.withColumn("__b", bucketExpr(m)),
        touched.map(_.toSeq).getOrElse(0 until m.nBuckets))
      val anyFresh = anyInBucket(col("__fresh"))
      val obs = org.apache.spark.sql.Observation()
      val toWrite = bucketed
        .withColumn("__f_b", anyFresh)
        .observe(obs, count(when(col("__fresh"), 1)).as("created"))
        .filter(col("__f_b") === 1)
        .drop("__f_b", Route, "__fresh")
      writeStaged("edges", toWrite, full = false) {
        obs.get("created").asInstanceOf[Number].longValue > 0L
      }.foreach(_ => maybeCompact("edges"))
      Map("created" -> obs.get("created").asInstanceOf[Number].longValue)
    }
  }

  /** K7 — source dimension upsert keyed by name (graphkb.js:614-624). */
  def upsertSource(source: DataFrame): Map[String, Long] =
    merge("sources", source, keyCols = Seq("name"),
      compareCols = source.columns.filterNot(_ == "name").toSeq)
}

object PersistentGraphStore {
  /** Layer-shuffle routing for the given buckets over `slots` task slots:
    * the partition count n = min(#buckets, slots), and each bucket's int
    * routing key. The sorted bucket ids are dealt round-robin — the bucket
    * of sorted rank r goes to partition r mod n — so per-partition bucket
    * counts differ by at most one.
    */
  private[core] def route(buckets: Seq[Int], slots: Int): (Int, Map[Int, Int]) = {
    val sorted = buckets.distinct.sorted
    val n = math.max(1, math.min(sorted.size, slots))
    val keys = routingKeys(n)
    n -> sorted.zipWithIndex.map { case (b, r) => b -> keys(r % n) }.toMap
  }

  /** `keys(s)` is the smallest non-negative int that `repartition(n, key)`
    * sends to partition s: Spark's hash partitioning of one int column is
    * `pmod(murmur3(key, seed 42), n)`. Every partition is reached within
    * about n·ln n candidates.
    */
  private[core] def routingKeys(n: Int): Array[Int] = {
    require(n >= 1, s"partition count must be >= 1, got $n")
    val keys = Array.fill(n)(-1)
    var found = 0
    var k = 0
    while (found < n) {
      val s = Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42), n)
      if (keys(s) < 0) { keys(s) = k; found += 1 }
      k += 1
    }
    keys
  }
}
