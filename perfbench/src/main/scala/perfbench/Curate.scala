package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** `curate`: an LLM-data near-dedup run — `Dedup.minhashDedupPairs` →
  * `duplicateClusters` → `clusterSurvivors` — over a synthetic corpus
  * with planted near-duplicate families, all at the operators' default
  * parameters. No index or search code runs; the work is shuffle-heavy
  * Spark SQL. The planted families are the ground truth: a planted pair
  * whose exact 3-shingle Jaccard is at least the threshold should be
  * found. */
final class Curate extends Workload {

  val Docs = 1500
  val Words = 120
  val Vocab = 2000
  val FamilyEvery = 3
  val MinJaccard = 0.5
  val WarmupRuns = 2
  /** Timed runs at least, however long they take: a median needs a few. */
  val MinRuns = 5

  override def setupReps: Int = 5

  /** The corpus `(doc_id, text)`, loaded into Spark. */
  type State = DataFrame

  private var corpus: Inputs.DedupCorpus = _
  private var truth: Set[(Long, Long)] = _
  private var scores: DataFrame = _
  private val shingleCache = scala.collection.mutable.Map.empty[Long, Set[String]]

  private def sh(d: Long): Set[String] =
    shingleCache.getOrElseUpdate(d, Inputs.shingles(corpus.texts(d.toInt)))

  def prepare(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    corpus = Inputs.dedupCorpus(Docs, Words, Vocab, FamilyEvery, ctx.seed)
    truth = corpus.family.zipWithIndex.filter(_._1 >= 0).groupBy(_._1).valuesIterator
      .flatMap { members =>
        val ids = members.map(_._2.toLong).sorted
        for (i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator
             if Inputs.jaccard(sh(ids(i)), sh(ids(j))) >= MinJaccard) yield (ids(i), ids(j))
      }.toSet
    // a deterministic quality score per doc for survivor selection
    scores = (0 until Docs).map(d => (d.toLong, ((d * 2654435761L) % 1000) / 1000.0))
      .toDF("doc_id", "score").localCheckpoint(eager = true)
  }

  def setup(ctx: Ctx, rep: Int): State =
    ctx.tracer.span("bench.load", "bench")(Inputs.textFrame(ctx.spark, corpus.texts))

  /** One dedup run over the loaded corpus, checked; its wall time in ms.
    * Sets [[recall]] and [[pairCount]]. */
  private def dedupOnce(ctx: Ctx, st: State, opName: String, i: Int): Option[Double] =
    ctx.attempt(s"$opName $i") {
      val ((pairs, surv), ms) = Ctx.timedMs(ctx.tracer.op(opName, "bench") {
        val pairsDf = ctx.tracer.span("pipeline.pairs", "pipeline")(
          Dedup.minhashDedupPairs(st, "doc_id", "text", minJaccard = MinJaccard)
            .localCheckpoint(eager = true))
        val clusters = ctx.tracer.span("pipeline.clusters", "pipeline")(
          Dedup.duplicateClusters(st, "doc_id", pairsDf).localCheckpoint(eager = true))
        val surv = ctx.tracer.span("pipeline.survivors", "pipeline")(
          Dedup.clusterSurvivors(clusters, scores).collect())
        (pairsDf.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))), surv)
      })
      val found = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      found.foreach { case (a, b) =>
        val j = Inputs.jaccard(sh(a), sh(b))
        ctx.check(j >= MinJaccard, s"pair ($a,$b) has Jaccard $j < $MinJaccard")
      }
      val clusterOf = surv.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      ctx.check(clusterOf.size == Docs, s"${clusterOf.size} of $Docs docs clustered")
      found.foreach { case (a, b) =>
        ctx.check(clusterOf(a) == clusterOf(b), s"pair ($a,$b) split across clusters")
      }
      val keeps = surv.groupBy(_.getAs[Long]("cluster_id"))
        .map { case (c, rs) => c -> rs.count(_.getAs[Boolean]("keep")) }
      val bad = keeps.filter(_._2 != 1)
      ctx.check(bad.isEmpty, s"clusters without exactly one survivor: ${bad.take(5)}")
      recall = if (truth.isEmpty) 1.0 else truth.count(found).toDouble / truth.size
      pairCount = found.size
      ms
    }

  private var recall = 0.0
  private var pairCount = 0L

  def pass(ctx: Ctx, st: State): Pass = {
    // untimed (but checked) runs first: a fresh JVM's first run takes
    // ~3x a warm one, its second still ~1.2x
    (0 until WarmupRuns).foreach(i => dedupOnce(ctx, st, "curate.warmup", i))
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinRuns || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      dedupOnce(ctx, st, "curate.pass", i).foreach(passes += _)
      i += 1
    }
    val rate = passes.size * Docs / (passes.sum / 1000.0)
    val p50 = Report.median(passes.toSeq)
    Pass(
      endToEnd = Seq(
        Metric("latency_p50_ms", p50, "ms"),
        Metric("throughput", rate, "1/s"),
        Metric("quality", recall, "ratio")),
      detail = Seq(
        Metric("dedup_pass_p50_ms", p50, "ms"),
        Metric("dedup_passes", passes.size, "count"),
        Metric("dedup_docs_per_s", rate, "1/s"),
        Metric("dedup_pairs", pairCount.toDouble, "count"),
        Metric("planted_pairs", truth.size, "count"),
        Metric("dedup_pair_recall", recall, "ratio")),
      samplesMs = passes.toSeq)
  }

  def layers(ctx: Ctx, st: State): Map[String, Double] = {
    val t = ctx.tracer
    val ops = t.named("curate.pass")
    val clusters = t.within("curate.pass", "pipeline.clusters")
    val docs = st
    val (sh, minhashMs) = Ctx.timedMs {
      val s = Dedup.shingles(docs, "doc_id", "text", 3).localCheckpoint(eager = true)
      Dedup.minhashSignatures(s, 16).localCheckpoint(eager = true)
      s
    }
    val cands = Dedup.candidatePairs(Dedup.lshBands(Dedup.minhashSignatures(sh, 16), 4))
      .localCheckpoint(eager = true)
    val nCands = cands.count()
    val (verified, verifyMs) = Ctx.timedMs(
      Dedup.jaccardVerify(cands, sh).filter(col("jaccard") >= MinJaccard).count())
    Map(
      "pipeline.minhash_ms" -> minhashMs,
      "pipeline.lsh_candidates" -> nCands.toDouble,
      "pipeline.lsh_precision" -> (if (nCands == 0) 0.0 else verified.toDouble / nCands),
      "pipeline.verify_ms" -> verifyMs,
      "pipeline.cc_ms" -> (if (clusters.isEmpty) 0.0 else Report.median(clusters.map(_.ms))),
      "pipeline.cc_jobs" -> Workload.perCall(clusters, "jobs"),
      "pipeline.shuffle_mib" -> Workload.perCall(ops, "shuffle_write_bytes") / Workload.MiB)
  }
}
