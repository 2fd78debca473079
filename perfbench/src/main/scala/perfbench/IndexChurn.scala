package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.llm.Retrieval

/** `index_churn`: a Zipf document corpus on parquet and its standing
  * inverted index; each timed unit is one lifecycle write — an
  * `updateInvIndex` fold of new documents or a `deleteFromInvIndex`
  * tombstone batch, alternating, each chained on the previous standing
  * index and materialized — followed by one `bm25TopK` query batch
  * against the new standing index. The store is never touched.
  */
class IndexChurn(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val NDocs = 20000
  val Vocab = 20000
  val AddBatch = 400
  val DeleteBatch = 200
  val Queries = 16
  val K = 10
  val MaxUnits = 400
  def unitName = "one index write (fold and materialize) and one query batch"
  override def cycle = 2
  def nominalCycleS = 3.5

  sealed trait Op
  case class Add(docs: Vector[(Long, String)]) extends Op
  case class Delete(docs: Vector[(Long, String)]) extends Op

  private var baseDocs: Vector[(Long, String)] = _
  private var ops: Vector[Op] = _
  private var queryBatches: Vector[Vector[(Long, String)]] = _
  private var next = 0
  private val live = mutable.LinkedHashMap.empty[Long, String]
  private var index: Retrieval.InvIndex = _
  private val mismatches = mutable.ArrayBuffer.empty[String]

  def generate(d: Gen.Digest): Unit = {
    val rng = new SplittableRandom(ctx.seed)
    val z = new Gen.Zipf(rng, Vocab, 1.1)
    baseDocs = Gen.docs(z, rng, 0, NDocs)
    val alive = mutable.ArrayBuffer.empty[(Long, String)] ++= baseDocs
    var nextId = NDocs.toLong
    ops = (0 until MaxUnits).map { u =>
      if (u % 2 == 0) {
        val b = Gen.docs(z, rng, nextId, AddBatch)
        nextId += AddBatch; alive ++= b; Add(b)
      } else {
        val picked = (0 until DeleteBatch).map(_ => rng.nextInt(alive.size)).distinct
          .sorted(Ordering[Int].reverse)
        val b = picked.map(alive(_)).toVector
        picked.foreach(alive.remove)
        Delete(b)
      }
    }.toVector
    // two-word queries: one common word (ranks 5-49) and one mid-frequency
    // word (ranks 50-999), so every batch costs about the same
    def batch(from: Long) = (0 until Queries).map(q =>
      (from + q, s"w${5 + rng.nextInt(45)} w${50 + rng.nextInt(950)}")).toVector
    queryBatches = (0 until MaxUnits + 1).map(u => batch(u.toLong * Queries)).toVector
    baseDocs.foreach { case (i, t) => d.add(i, t) }
    ops.foreach {
      case Add(b) => b.foreach { case (i, t) => d.add("+", i, t) }
      case Delete(b) => b.foreach { case (i, _) => d.add("-", i) }
    }
    queryBatches.flatten.foreach { case (i, t) => d.add("q", i, t) }
  }

  private def frame(docs: Seq[(Long, String)]): DataFrame = docs.toDF("doc_id", "text")

  /** Hold an index as the standing one: its four shared roots (postings,
    * lengths, df, stats) eagerly local-checkpointed, so the next lifecycle
    * step chains on materialized data with cut lineage. Without the cut
    * every step re-references its predecessor's roots several times and
    * the plan grows exponentially with the chain.
    */
  private def stand(i: Retrieval.InvIndex): Retrieval.InvIndex =
    i.copy(postings = i.postings.localCheckpoint(), dl = i.dl.localCheckpoint(),
      dfTable = i.dfTable.localCheckpoint(), stats = i.stats.localCheckpoint())

  def base(): Unit = {
    val corpus = ctx.work.resolve("churn/corpus").toString
    frame(baseDocs).write.mode("overwrite").parquet(corpus)
    live ++= baseDocs
    val t = System.nanoTime()
    index = stand(ctx.tracer.span("retrieval.build", "retrieval") {
      Retrieval.buildInvIndex(spark.read.parquet(corpus), "doc_id", "text")
    })
    buildS = (System.nanoTime() - t) / 1e9
  }

  /** One add and its query batch, untimed. */
  def warmup(): Unit = apply(-1)

  def unit(i: Int, traced: Boolean): UnitOutcome = apply(i)

  private def query(qs: Seq[(Long, String)], idx: Retrieval.InvIndex): Array[Row] =
    Retrieval.bm25TopK(qs.toDF("qid", "qtext"), "qid", "qtext", idx, K,
      excludeIdEq = false).orderBy("query_id", "rank").collect()

  private def apply(i: Int): UnitOutcome = {
    require(next < ops.size, s"more than $MaxUnits units")
    val op = ops(next)
    val qs = queryBatches(next)
    next += 1
    val records = op match {
      case Add(b) =>
        index = ctx.writeOp(ctx.tracer.span("retrieval.update", "retrieval") {
          stand(Retrieval.updateInvIndex(index, frame(b), "doc_id", "text"))
        })
        live ++= b; b.size
      case Delete(b) =>
        index = ctx.writeOp(ctx.tracer.span("retrieval.delete", "retrieval") {
          stand(Retrieval.deleteFromInvIndex(index, frame(b), "doc_id", "text"))
        })
        live --= b.map(_._1); b.size
    }
    val rows = ctx.readOp(ctx.tracer.span("retrieval.query", "retrieval")(query(qs, index)))
    // every query's ranks run 1..n with n <= k, and hit live documents only
    val bad = rows.groupBy(_.getAs[Long]("query_id")).exists { case (_, rs) =>
      rs.map(_.getAs[Long]("rank")).toSeq != (1L to rs.length.toLong) || rs.length > K ||
        rs.exists(x => !live.contains(x.getAs[Long]("doc_id")))
    }
    if (bad) mismatches += s"unit $i: malformed top-$K result"
    UnitOutcome(records.toLong, 1, 1, if (bad) 1 else 0)
  }

  /** The maintained index must rank exactly as the index-free BM25 over
    * the net corpus, and count the same documents.
    */
  def check(): Seq[String] = {
    val qs = queryBatches.last
    val net = frame(live.toSeq)
    val want = Retrieval.bm25TopK(net, "doc_id", "text", qs.toDF("qid", "qtext"),
      "qid", "qtext", K).orderBy("query_id", "rank").collect().toSeq
    val got = query(qs, index).toSeq
    val nDocs = index.stats.select(col("n_docs")).collect()(0).getLong(0)
    val wantDocs = live.valuesIterator.count(_.nonEmpty).toLong
    mismatches.toSeq ++
      (if (got.map(_.toSeq) != want.map(_.toSeq))
        Seq(s"top-$K over the maintained index differs from the index-free ranking " +
          s"(${got.size} vs ${want.size} rows)") else Nil) ++
      (if (nDocs != wantDocs) Seq(s"index holds $nDocs docs, expected $wantDocs") else Nil)
  }

  def storeRoots: Seq[Path] = Nil
}
