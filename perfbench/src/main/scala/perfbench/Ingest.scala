package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.GraftIndex
import graft.meta.Where
import graft.search.HybridParams

/** `ingest`: writes beside reads. Set-up creates an index with JSON
  * metadata (vectors, metadata table and FTS); each round then adds a
  * batch with metadata, makes a deferred delete, runs a filtered hybrid
  * search and a plain search; a final `compact()` ends the pass. The
  * initial corpus is above the updater's 999-doc rebuild threshold, so
  * every add takes the incremental append path, and every add rewrites
  * the manifest, so the next read re-opens the searcher. */
final class Ingest extends Workload {

  val Docs0 = 1500L
  val AddBatch = 250
  val Deletes = 25
  val Queries = 16
  val MaxRounds = 4
  val Tokens = 16
  val Dim = 64
  val Clusters = 125
  val RecallQueries = 64
  val TopK: Int = HybridParams().topK

  /** The initial docs and their metadata rows, loaded. */
  type State = (DataFrame, DataFrame)

  /** The index the latest pass built and updated. */
  private var gi: GraftIndex = _
  private var passes = 0

  private var all: DataFrame = _
  private var queryPool: IndexedSeq[Inputs.Query] = _
  private var rnd: java.util.Random = _
  private var live = 0L
  private var physical = 0L
  private val deleted = scala.collection.mutable.Set.empty[Long]
  private var round = 0
  /** Data files each traced add created or changed. */
  private val filesPerAdd = scala.collection.mutable.ArrayBuffer.empty[Double]

  def prepare(ctx: Ctx): Unit = {
    all = Inputs.corpus(ctx.spark, Docs0 + MaxRounds.toLong * AddBatch, Tokens, Dim, Clusters, ctx.seed)
    rnd = new java.util.Random(ctx.seed)
    queryPool = Inputs.queryPool(ctx.spark, Queries * 8, Tokens, Dim, Clusters, ctx.seed)
  }

  /** Docs `[from, from + n)` of the generated corpus with batch-local
    * ids, and their metadata rows. */
  private def slice(ctx: Ctx, from: Long, n: Int): (DataFrame, DataFrame) = {
    val docs = all.filter(col("doc_id") >= from && col("doc_id") < from + n)
      .select((col("doc_id") - from).as("doc_id"), col("embeddings"))
      .localCheckpoint(eager = true)
    (docs, Inputs.metadata(ctx.spark, from until from + n, ctx.seed).localCheckpoint(eager = true))
  }

  /** Set-up loads the initial batch and its metadata into Spark; the
    * index build itself is the pass's first timed operation. */
  def setup(ctx: Ctx, rep: Int): State =
    ctx.tracer.span("bench.load", "bench")(slice(ctx, 0L, Docs0.toInt))

  private def queries(ctx: Ctx, r: Int): DataFrame = {
    val from = (r % 8) * Queries
    Inputs.queryFrame(ctx.spark, queryPool.slice(from, from + Queries))
  }

  private def noneDeleted(ctx: Ctx, rows: Array[Row], what: String): Unit = {
    val bad = rows.map(_.getAs[Long]("doc_id")).filter(deleted)
    ctx.check(bad.isEmpty, s"$what returned deleted ids ${bad.take(5).mkString(",")}")
  }

  def pass(ctx: Ctx, st: State): Pass = {
    val (docs0, meta0) = st
    val path = ctx.dir(s"ingest-idx-$passes")
    passes += 1
    val (created, createMs) = Ctx.timedMs(ctx.tracer.op("index.create", "index") {
      ctx.attempt("create")(GraftIndex.create(ctx.spark, path, docs0, Some(meta0)))
    })
    gi = created.getOrElse(GraftIndex.open(ctx.spark, path))
    live = Docs0; physical = Docs0; deleted.clear(); round = 0
    ctx.attempt("count after create")(ctx.check(gi.count == live, s"count ${gi.count} != $live after create"))
    val adds, deletes, hybrids, searches, rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    // at least one round, however long the build took
    while (round == 0 || ((System.nanoTime() - t0) / 1e9 < ctx.seconds && round < MaxRounds)) {
      val r = round
      round += 1
      val (docs, meta) = slice(ctx, Docs0 + r.toLong * AddBatch, AddBatch)
      val qs = queries(ctx, r)
      val grp = rnd.nextInt(4).toLong
      val vocab = Inputs.vocabulary(Inputs.MetaVocab)
      val text = Seq.fill(2)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val del = {
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        while (out.size < Deletes) {
          val d = (rnd.nextDouble() * physical).toLong
          if (!deleted(d)) out += d
        }
        out.toSeq
      }
      val (_, roundMs) = Ctx.timedMs(ctx.tracer.op("ingest.round", "bench") {
        ctx.attempt(s"round $r add") {
          val (_, ms) = Ctx.timedMs {
            if (ctx.tracer.enabled) filesPerAdd += Probes.tracedAdd(ctx, gi, docs, meta)
            else gi.addDocuments(docs, Some(meta))
          }
          live += AddBatch; physical += AddBatch
          adds += ms
          ctx.check(gi.count == live, s"count ${gi.count} != $live after add")
        }
        ctx.attempt(s"round $r delete") {
          val (_, ms) = Ctx.timedMs(ctx.tracer.span("index.delete", "index")(
            gi.deleteDocuments(ids = Some(del), deferred = true)))
          live -= Deletes; deleted ++= del
          deletes += ms
          ctx.check(gi.count == live, s"count ${gi.count} != $live after delete")
        }
        ctx.attempt(s"round $r hybrid") {
          val (rows, ms) = Ctx.timedMs(ctx.tracer.span("search.hybrid", "search")(
            gi.hybrid(qs, text, cond = Some(("grp = ?", Seq(Where.SLong(grp))))).collect()))
          hybrids += ms
          noneDeleted(ctx, rows, "hybrid")
          val ids = rows.map(_.getAs[Long]("doc_id")).distinct.toSeq
          val off = gi.metadata.filter(col("_subset_").isin(ids: _*) && col("grp") =!= grp)
            .select("_subset_").collect().map(_.getLong(0))
          ctx.check(off.isEmpty, s"hybrid filter grp=$grp returned ${off.take(5).mkString(",")}")
        }
        ctx.attempt(s"round $r search") {
          val (rows, ms) = Ctx.timedMs(ctx.tracer.span("search.search", "search")(gi.search(qs).collect()))
          searches += ms
          noneDeleted(ctx, rows, "search")
          Serve.checkRanked(ctx, rows, Queries, TopK)
        }
      })
      rounds += roundMs
    }
    val compactMs = ctx.attempt("compact") {
      val (_, ms) = Ctx.timedMs(ctx.tracer.op("index.compact", "index")(gi.compact()))
      deleted.clear(); physical = live
      ctx.check(gi.count == live, s"count ${gi.count} != $live after compact")
      val bad = gi.fsck().filter(!col("ok")).collect()
      ctx.check(bad.isEmpty, s"fsck: ${bad.mkString(";")}")
      ms
    }.getOrElse(0.0)
    val recall = ctx.attempt("recall@10")(Serve.searchRecall(ctx, gi, queryPool.take(RecallQueries)))
      .getOrElse(0.0)
    val addRate = adds.size * AddBatch / (adds.sum / 1000.0)
    val ingestRate = (Docs0 + adds.size * AddBatch) / ((createMs + adds.sum) / 1000.0)
    val roundP50 = Report.median(rounds.toSeq)
    Pass(
      endToEnd = Seq(
        Metric("latency_p50_ms", roundP50, "ms"),
        Metric("throughput", ingestRate, "1/s"),
        Metric("quality", recall, "ratio")),
      detail = Seq(
        Metric("rounds", rounds.size, "count"),
        Metric("round_p50_ms", roundP50, "ms"),
        Metric("ingest_docs_per_s", ingestRate, "1/s"),
        Metric("build_docs_per_s", Docs0 / (createMs / 1000.0), "1/s"),
        Metric("add_docs_per_s", addRate, "1/s"),
        Metric("delete_p50_ms", Report.median(deletes.toSeq), "ms"),
        Metric("hybrid_p50_ms", Report.median(hybrids.toSeq), "ms"),
        Metric("plain_search_p50_ms", Report.median(searches.toSeq), "ms"),
        Metric("compact_s", compactMs / 1000.0, "s"),
        Metric("index_bytes_per_doc", Ctx.sizeBytes(gi.path).toDouble / live, "B"),
        Metric("recall_at_10", recall, "ratio")),
      samplesMs = rounds.toSeq)
  }

  def layers(ctx: Ctx, st: State): Map[String, Double] = {
    val t = ctx.tracer
    val adds = t.within("ingest.round", "index.add")
    val (batchDocs, batchMeta) = slice(ctx, Docs0, AddBatch)
    Workload.searchLayer(t.within("ingest.round", "search.search")) ++
      Probes.buildLayers(ctx, gi, st._1, batchDocs, batchMeta, TopK) ++
      Probes.addLayers(adds, adds.size.toDouble * AddBatch * Tokens * Dim * 4, filesPerAdd.toSeq) ++ Map(
        "search.reopen_ms" -> Probes.reopenMs(ctx, gi.path, queries(ctx, 0)),
        "index.jobs_per_build" -> Workload.perCall(t.named("index.create"), "jobs"),
        "index.compact_mib_rewritten" ->
          Workload.sum(t.named("index.compact"), "output_bytes") / Workload.MiB)
  }
}
