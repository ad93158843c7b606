package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.GraftIndex
import graft.core.MaxSim
import graft.search.{SearchParams, Searcher}

/** Shared shape of the `serve` and `bulk` corpus: a SciFact-like
  * multi-vector corpus (32 tokens of dim 128 per doc) from the repo's
  * clustered recall corpus. */
object ServeShape {
  val Docs = 600L
  val Tokens = 32
  val Dim = 128
  /** ~12 docs per cluster: each query's exact top-10 is its own
    * neighborhood, so recall against brute force is a stable signal. */
  val Clusters = 50
  val TopK: Int = SearchParams().topK
}

/** `serve`: 16-query batches through `GraftIndex.search` against a
  * built index, one closed-loop client, no writes. The resident fast
  * path (`Searcher.searchLocal` plus the MaxSim kernels) is the only
  * program code on the timed path. Set-up is what a server pays before
  * it can answer: build the index with its JSON metadata (vectors,
  * metadata table, FTS), open it and answer a first batch, which loads
  * the resident image. */
final class Serve extends Workload {
  import ServeShape._

  val Batch = 16
  val PoolBatches = 128
  val RecallQueries = 16
  /** Batches answered, checked and not timed before the timed loop:
    * the JIT and Spark's code caches settle in about this long. */
  val WarmupSeconds = 3.0
  /** Size of the write probe's batch (traced runs only). */
  val ProbeBatch = 250

  /** The built, opened index. */
  type State = GraftIndex

  private var corpus: DataFrame = _
  private var meta: DataFrame = _
  private var pool: IndexedSeq[Inputs.Query] = _

  def prepare(ctx: Ctx): Unit = {
    corpus = Inputs.corpus(ctx.spark, Docs, Tokens, Dim, Clusters, ctx.seed)
    meta = Inputs.metadata(ctx.spark, 0L until Docs, ctx.seed).localCheckpoint(eager = true)
    pool = Inputs.queryPool(ctx.spark, Batch * PoolBatches, Tokens, Dim, Clusters, ctx.seed)
  }

  private def batch(ctx: Ctx, i: Int): DataFrame = {
    val from = (i % PoolBatches) * Batch
    Inputs.queryFrame(ctx.spark, pool.slice(from, from + Batch))
  }

  def setup(ctx: Ctx, rep: Int): State = {
    val gi = ctx.tracer.op("index.create", "index") {
      GraftIndex.create(ctx.spark, ctx.dir(s"serve-idx-$rep"), corpus, Some(meta))
    }
    ctx.tracer.op("serve.open", "bench") {
      ctx.tracer.span("search.search", "search")(gi.search(batch(ctx, PoolBatches - 1 - rep)).collect())
    }
    gi
  }

  def pass(ctx: Ctx, st: State): Pass = {
    Serve.searchLoop(ctx, st, Batch, i => batch(ctx, i + 1), TopK, WarmupSeconds, "serve.warmup")
    val lat = Serve.searchLoop(ctx, st, Batch, i => batch(ctx, i + 64), TopK, ctx.seconds, "serve.batch")
    val recall = ctx.attempt("recall@10")(Serve.searchRecall(ctx, st, pool.take(RecallQueries)))
      .getOrElse(0.0)
    val total = lat.sum / 1000.0
    val qps = lat.size * Batch / total
    val p50 = Report.median(lat)
    Pass(
      endToEnd = Seq(
        Metric("latency_p50_ms", p50, "ms"),
        Metric("throughput", qps, "1/s"),
        Metric("quality", recall, "ratio")),
      detail = Seq(
        Metric("search_p50_ms", p50, "ms"),
        Metric("search_samples", lat.size, "count"),
        Metric("search_qps", qps, "1/s"),
        Metric("recall_at_10", recall, "ratio")) ++
        Report.tailQuantile(lat, 0.95).map(Metric("search_p95_ms", _, "ms")),
      samplesMs = lat)
  }

  def layers(ctx: Ctx, st: State): Map[String, Double] = {
    val k = st.index.codec.numCentroids
    val fresh = Inputs.corpus(ctx.spark, Docs + ProbeBatch, Tokens, Dim, Clusters, ctx.seed)
      .filter(col("doc_id") >= Docs).select((col("doc_id") - Docs).as("doc_id"), col("embeddings"))
      .localCheckpoint(eager = true)
    val freshMeta = Inputs.metadata(ctx.spark, Docs until Docs + ProbeBatch, ctx.seed)
      .localCheckpoint(eager = true)
    val deletes = (0L until Docs by (Docs / 25)).take(25)
    Workload.searchLayer(ctx.tracer.within("serve.batch", "search.search")) ++
      Probes.buildLayers(ctx, st, corpus, fresh, freshMeta, TopK) ++
      Probes.writeLayers(ctx, st, fresh, freshMeta, ProbeBatch.toDouble * Tokens * Dim * 4,
        batch(ctx, 0), deletes) ++ Map(
      "index.jobs_per_build" -> Workload.perCall(ctx.tracer.named("index.create"), "jobs"),
      "core.maxsim_gflops" -> Serve.maxsimGflops(ctx, corpus),
      "core.s1_gflop_per_call" -> 2.0 * Batch * Tokens * k * Dim / 1e9)
  }
}

object Serve {

  /** Closed loop of `search(batch(i)).collect()` for `seconds`;
    * returns each completed call's latency in ms. Every returned batch is
    * checked: each query has exactly `topK` rows, ranks 1..topK and
    * non-increasing scores. */
  def searchLoop(ctx: Ctx, gi: GraftIndex, batchSize: Int,
      batch: Int => DataFrame, topK: Int, seconds: Double, opName: String): Seq[Double] = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val q = batch(i)
      ctx.attempt(s"$opName $i") {
        val (rows, ms) = Ctx.timedMs {
          ctx.tracer.op(opName, "bench") {
            ctx.tracer.span("search.search", "search")(gi.search(q).collect())
          }
        }
        checkRanked(ctx, rows, batchSize, topK)
        lat += ms
      }
      i += 1
    }
    lat.toSeq
  }

  def checkRanked(ctx: Ctx, rows: Array[Row], queries: Int, topK: Int): Unit = {
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    ctx.check(byQ.size == queries, s"${byQ.size} of $queries queries answered")
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      val ranks = sorted.map(_.getAs[Int]("rank")).toSeq
      ctx.check(ranks == (1 to topK), s"query $q ranks $ranks")
      val scores = sorted.map(r => r.getAs[Number]("score").doubleValue())
      ctx.check(scores.sliding(2).forall(w => w.size < 2 || w(0) >= w(1)),
        s"query $q scores increase with rank")
    }
  }

  /** query id -> doc ids ranked 1..10, from search result rows. */
  def top10(rows: Seq[Row]): Map[Long, Set[Long]] =
    rows.filter(_.getAs[Int]("rank") <= 10).groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("doc_id")).toSet }

  /** Mean overlap of `got` with `Searcher.bruteForce`'s exact top-10 for
    * the `n` queries in `queries`; run outside any timed phase. */
  def recallAt10(ctx: Ctx, gi: GraftIndex, queries: DataFrame, n: Int,
      got: Map[Long, Set[Long]]): Double = {
    val exact = top10(new Searcher(gi.index).bruteForce(queries, 10).collect().toSeq)
    ctx.check(exact.size == n, s"brute force answered ${exact.size} of $n queries")
    exact.map { case (q, e) => got.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size }
      .sum / exact.size
  }

  /** recall@10 of `gi.search` on `qs`. */
  def searchRecall(ctx: Ctx, gi: GraftIndex, qs: Seq[Inputs.Query]): Double = {
    val df = Inputs.queryFrame(ctx.spark, qs)
    recallAt10(ctx, gi, df, qs.size, top10(gi.search(df).collect().toSeq))
  }

  /** `MaxSim.scoreFast` throughput on one thread at the corpus's
    * query/doc shape, flops counted from the shapes. */
  def maxsimGflops(ctx: Ctx, corpus: DataFrame): Double = {
    val docs = corpus.limit(256).select("embeddings").collect()
      .map(_.getSeq[scala.collection.Seq[Float]](0).map(_.toArray).toArray)
    val qs = docs.take(8)
    val flops = 2.0 * qs.length * docs.length * docs.head.length * qs.head.length * docs.head.head.length
    var sink = 0f
    val ms = Workload.medianMs(5) {
      qs.foreach(q => docs.foreach(d => sink += MaxSim.scoreFast(q, d)))
    }
    require(!sink.isNaN)
    flops / (ms / 1000.0) / 1e9
  }
}
