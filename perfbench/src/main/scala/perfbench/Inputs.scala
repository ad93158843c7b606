package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.RecallHarness

/** Every input a workload hands the program, generated from the run's
  * seed: the same seed gives the same inputs (and the same
  * `graft.Bench.forcedCountHash`). Inputs are materialized before any
  * timing starts, so no program call pays for generating them. */
object Inputs {

  type Query = (Long, Array[Array[Float]])

  /** `(doc_id, embeddings)` from the repo's recall harness: clustered
    * L2-normalized token vectors, so the default pruned search
    * parameters have real neighborhoods to find. */
  def corpus(spark: SparkSession, numDocs: Long, tokens: Int, dim: Int, clusters: Int,
      seed: Long): DataFrame =
    RecallHarness.clusteredCorpus(spark, numDocs, tokens, dim, clusters, seed = seed)
      .localCheckpoint(eager = true)

  /** `n` queries with ids 0..n-1 in an order drawn from `seed`: the
    * recall harness's re-noised docs (query i has doc i's cluster and
    * fresh noise), so every query has a neighborhood in the corpus and
    * no two queries are equal. */
  def queryPool(spark: SparkSession, n: Int, tokens: Int, dim: Int, clusters: Int,
      seed: Long): IndexedSeq[Query] = {
    import spark.implicits._
    val qs = RecallHarness.queriesFrom(spark, n, tokens, dim, clusters, seed = seed * 31 + 7)
      .as[(Long, Array[Array[Float]])].collect().sortBy(_._1)
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(seed)).shuffle(qs.indices.toVector)
    order.zipWithIndex.map { case (j, i) => (i.toLong, qs(j)._2) }
  }

  def queryFrame(spark: SparkSession, qs: Seq[Query]): DataFrame = {
    import spark.implicits._
    qs.toDF("query_id", "embeddings")
  }

  /** Vocabulary of `n` distinct lowercase words (`[a-z]+`, so the FTS
    * and shingle tokenizers keep each word whole). */
  def vocabulary(n: Int): IndexedSeq[String] =
    (0 until n).map { i =>
      val b = new StringBuilder
      var x = i + n
      while (x > 0) { b += ('a' + x % 26).toChar; x /= 26 }
      b.result()
    }

  /** JSON metadata rows `(order, json)` for docs `ids`: a title of four
    * vocabulary words, a `grp` of four values (the filter column) and a
    * language tag. */
  def metadata(spark: SparkSession, ids: Seq[Long], seed: Long): DataFrame = {
    import spark.implicits._
    val vocab = vocabulary(MetaVocab)
    ids.zipWithIndex.map { case (d, i) =>
      val r = new java.util.Random(seed * 1000003L + d)
      val title = Seq.fill(4)(vocab(r.nextInt(vocab.size))).mkString(" ")
      (i.toLong, s"""{"title": "$title", "grp": ${d % 4}, "lang": "${if (d % 2 == 0) "en" else "fr"}"}""")
    }.toDF("order", "json")
  }

  val MetaVocab = 200

  /** Near-duplicate corpus for dedup: `numDocs` docs of `words` words
    * from a `vocab`-word vocabulary. One doc in `familyEvery` starts a
    * planted family: the next 1–3 docs are copies of it with 2–8 word
    * substitutions each (3-shingle Jaccard about 0.75–0.95 to the
    * original, lower between two copies). Returns the texts and each doc's
    * family (-1 for background docs).
    *
    * The family layout — which docs start families, how many copies, how
    * many substitutions and where — is the same for every seed; the seed
    * draws the words. Pair recall then varies between seeds only with
    * the hashing of the words, not with a different mix of easy and
    * hard pairs. */
  final case class DedupCorpus(texts: IndexedSeq[String], family: IndexedSeq[Int])

  def dedupCorpus(numDocs: Int, words: Int, vocab: Int, familyEvery: Int, seed: Long): DedupCorpus = {
    val v = vocabulary(vocab)
    val rnd = new java.util.Random(seed)
    val layout = new java.util.Random(7L)
    val texts = new Array[String](numDocs)
    val fam = Array.fill(numDocs)(-1)
    var d = 0
    var f = 0
    while (d < numDocs) {
      val base = Array.fill(words)(v(rnd.nextInt(vocab)))
      texts(d) = base.mkString(" ")
      if (layout.nextInt(familyEvery) == 0) {
        fam(d) = f
        val copies = 1 + layout.nextInt(3)
        var c = 0
        while (c < copies && d + 1 < numDocs) {
          d += 1
          val w = base.clone()
          val edits = 2 + layout.nextInt(7)
          (0 until edits).foreach(_ => w(layout.nextInt(words)) = v(rnd.nextInt(vocab)))
          texts(d) = w.mkString(" ")
          fam(d) = f
          c += 1
        }
        f += 1
      }
      d += 1
    }
    DedupCorpus(texts.toIndexedSeq, fam.toIndexedSeq)
  }

  /** Distinct word 3-gram shingles, tokenized as the program's shingler
    * tokenizes (`[a-z0-9]+` over lowercase text). */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toIndexedSeq
    if (toks.size < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size

  def textFrame(spark: SparkSession, texts: IndexedSeq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .localCheckpoint(eager = true)
  }
}
