package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.GraftIndex

/** `bulk`: offline mega-batches of 5,000 queries — above the fast path's
  * 4,096-query cap, so the only workload on the chunked distributed
  * dense funnel — over the `serve` corpus shape. The shape of
  * hard-negative mining and evaluation runs.
  *
  * Known defect, recorded as it is: the dense funnel's S1 step collects
  * a query chunk that the planner fills to `denseScoreBudgetBytes`
  * (1 GiB by default), which is also Spark's default
  * `spark.driver.maxResultSize`, so every mega-batch aborts. Each abort
  * counts as a failed operation and its message stays in the run
  * record; the batch size and both settings stay at their defaults. */
final class Bulk extends Workload {
  import ServeShape._

  val MegaBatch = 5000
  val RecallQueries = 32

  type State = GraftIndex

  override def setupReps: Int = 1

  private var corpus: DataFrame = _
  private var queries: DataFrame = _

  def prepare(ctx: Ctx): Unit = {
    corpus = Inputs.corpus(ctx.spark, Docs, Tokens, Dim, Clusters, ctx.seed)
    queries = Inputs.queryFrame(ctx.spark,
      Inputs.queryPool(ctx.spark, MegaBatch, Tokens, Dim, Clusters, ctx.seed))
      .localCheckpoint(eager = true)
  }

  def setup(ctx: Ctx, rep: Int): State =
    ctx.tracer.span("index.create", "index") {
      GraftIndex.create(ctx.spark, ctx.dir(s"bulk-idx-$rep"), corpus)
    }

  def pass(ctx: Ctx, st: State): Pass = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: Array[Row] = null
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      ctx.attempt(s"mega-batch $i") {
        val (rows, ms) = Ctx.timedMs {
          ctx.tracer.op("bulk.batch", "bench") {
            ctx.tracer.span("search.search", "search")(st.search(queries).collect())
          }
        }
        Serve.checkRanked(ctx, rows, MegaBatch, TopK)
        lat += ms
        last = rows
      }
      i += 1
    }
    val qps = if (lat.isEmpty) 0.0 else lat.size * MegaBatch / (lat.sum / 1000.0)
    // recall of the last answered mega-batch on its first queries
    val recall = Option(last).flatMap { rows =>
      ctx.attempt("recall@10")(Serve.recallAt10(ctx, st, queries.filter(col("query_id") < RecallQueries),
        RecallQueries, Serve.top10(rows.filter(_.getAs[Long]("query_id") < RecallQueries).toSeq)))
    }.getOrElse(0.0)
    Pass(
      endToEnd = Seq(
        Metric("latency_p50_ms", if (lat.isEmpty) 0.0 else Report.median(lat.toSeq), "ms"),
        Metric("throughput", qps, "1/s"),
        Metric("quality", recall, "ratio")),
      detail = Seq(Metric("bulk_qps", qps, "1/s"), Metric("bulk_batches", i, "count")),
      samplesMs = lat.toSeq)
  }

  def layers(ctx: Ctx, st: State): Map[String, Double] =
    Workload.searchLayer(ctx.tracer.within("bulk.batch", "search.search"))
}
