package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftIndex
import graft.fts.FtsIndex
import graft.index.GraftKMeans
import graft.meta.{JsonMeta, MetadataOps, Where}

/** Direct calls into single layers, made by traced runs after the traced
  * pass: each times a module's public function on the workload's own
  * inputs, so a layer's cost is read without instrumenting the program. */
object Probes {

  /** index, meta and fts read-side and build-side calls on `gi` (an index
    * built with metadata). `docs` is the corpus the index was built from;
    * `batchDocs`/`batchMeta` a batch of new docs and their metadata. */
  def buildLayers(ctx: Ctx, gi: GraftIndex, docs: DataFrame, batchDocs: DataFrame,
      batchMeta: DataFrame, topK: Int): Map[String, Double] = {
    import ctx.spark.implicits._
    val tokens = docs.select(col("doc_id"), posexplode(col("embeddings")).as(Seq("tok", "vec")))
      .localCheckpoint(eager = true)
    val numTokens = tokens.count()
    val dim = gi.index.dim
    val codecBc = ctx.spark.sparkContext.broadcast(gi.index.codec)
    val vectors = batchDocs.select(explode(col("embeddings")).as("v")).localCheckpoint(eager = true)
    val metaTable = gi.metadata.localCheckpoint(eager = true)
    val texts = {
      val m = JsonMeta.create(ctx.spark, batchMeta)
      m.select(col("_subset_").as("doc_id"), FtsIndex.metadataToTextUdf(to_json(struct(
        m.columns.filterNot(_ == "_subset_").toIndexedSeq.map(col): _*))).as("text"))
        .localCheckpoint(eager = true)
    }
    val ftsCopy = ctx.dir("probe-fts")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"${gi.path}/fts"), new java.io.File(ftsCopy))
    val ftsQuery = Inputs.vocabulary(Inputs.MetaVocab).take(2).mkString(" ")
    Map(
      "index.kmeans_ms" -> Workload.medianMs(3)(GraftKMeans.train(ctx.spark, tokens, dim,
        GraftKMeans.numPartitions(numTokens.toDouble), 4, 42L, 256)),
      "index.encode_ms" -> Workload.medianMs(3)(vectors.as[Array[Float]]
        .map(v => codecBc.value.encode(v)._1).count()),
      "meta.where_ms" -> Workload.medianMs(3)(MetadataOps.whereCondition(
        metaTable, "_subset_", "grp = ?", Seq(Where.SLong(1))).count()),
      "meta.create_ms" -> Workload.medianMs(3)(graft.Bench.forcedCountHash(
        JsonMeta.create(ctx.spark, batchMeta))),
      "fts.search_ms" -> Workload.medianMs(3)(gi.ftsIndex.search(ftsQuery, topK).collect()),
      "fts.append_ms" ->
        Ctx.timedMs(FtsIndex.appendRows(new FtsIndex(ctx.spark, ftsCopy), texts, "doc_id", "text"))._2)
  }

  /** The cost a first search pays after a write: open `path` fresh, time
    * the first search, subtract the median of three warm ones. */
  def reopenMs(ctx: Ctx, path: String, queries: DataFrame): Double = {
    val fresh = GraftIndex.open(ctx.spark, path)
    Ctx.timedMs(fresh.search(queries).collect())._2 - Workload.medianMs(3)(fresh.search(queries).collect())
  }

  /** Write-side metrics of a set of traced `index.add` spans. */
  def addLayers(adds: Seq[Span], userBytes: Double, filesPerAdd: Seq[Double]): Map[String, Double] =
    Map(
      "index.jobs_per_add" -> Workload.perCall(adds, "jobs"),
      "index.bytes_written_per_user_byte" ->
        (if (userBytes == 0) 0.0 else Workload.sum(adds, "output_bytes") / userBytes),
      "util.rewrite_ms" -> Workload.perCall(adds, "job_ms.util"),
      "util.files_written_per_add" -> (if (filesPerAdd.isEmpty) 0.0 else Report.median(filesPerAdd)))

  /** Traced `addDocuments`, counting the data files it created or
    * changed under the index directory. */
  def tracedAdd(ctx: Ctx, gi: GraftIndex, docs: DataFrame, meta: DataFrame): Double = {
    val before = Ctx.fileStamps(gi.path)
    ctx.tracer.span("index.add", "index")(gi.addDocuments(docs, Some(meta)))
    val after = Ctx.fileStamps(gi.path)
    after.count { case (p, st) => !before.get(p).contains(st) }.toDouble
  }

  /** One add, one deferred delete and a compaction on a copy of `gi`,
    * traced: the write path's layer costs on a read-only workload. */
  def writeLayers(ctx: Ctx, gi: GraftIndex, batchDocs: DataFrame, batchMeta: DataFrame,
      userBytes: Double, queries: DataFrame, deletes: Seq[Long]): Map[String, Double] = {
    val copy = ctx.dir("probe-idx")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(gi.path), new java.io.File(copy))
    val g = GraftIndex.open(ctx.spark, copy)
    val files = ctx.tracer.op("probe.write", "bench")(tracedAdd(ctx, g, batchDocs, batchMeta))
    val reopen = reopenMs(ctx, copy, queries)
    g.deleteDocuments(ids = Some(deletes), deferred = true)
    ctx.tracer.op("index.compact", "index")(g.compact())
    addLayers(ctx.tracer.within("probe.write", "index.add"), userBytes, Seq(files)) ++ Map(
      "search.reopen_ms" -> reopen,
      "index.compact_mib_rewritten" ->
        Workload.sum(ctx.tracer.named("index.compact"), "output_bytes") / Workload.MiB)
  }
}
