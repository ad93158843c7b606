package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("the same seed gives an identical input hash, another seed a different one") {
    def hash(seed: Long) = graft.Bench.forcedCountHash(Inputs.corpus(spark, 40, 4, 8, 10, seed))
    assert(hash(5) === hash(5))
    assert(hash(5) !== hash(6))
    def texts(seed: Long) = graft.Bench.forcedCountHash(
      Inputs.textFrame(spark, Inputs.dedupCorpus(200, 30, 100, 4, seed).texts))
    assert(texts(5) === texts(5))
    assert(texts(5) !== texts(6))
    def pool(seed: Long) = Inputs.queryPool(spark, 50, 4, 8, 10, seed).map { case (q, e) =>
      (q, e.map(_.toSeq).toSeq)
    }
    assert(pool(5) === pool(5))
    assert(pool(5).map(_._2).distinct.size === 50)
  }

  test("every emitted metric name matches [A-Za-z0-9_.-]+") {
    val names = Main.EndToEnd ++ Main.PerLayer.map(_._1)
    assert(names.distinct.size === names.size)
    names.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+") && Report.validName(n), n))
    assert(Main.EndToEnd.contains("setup_s"))
    intercept[IllegalArgumentException](Metric("bad name", 1, "ms"))
    intercept[IllegalArgumentException](Metric("x", Double.NaN, "ms"))
    assert(Report.resultLine(true, 3, 0, Seq(Metric("latency_p50_ms", 1.25, "ms"))) ===
      """{"correct": true, "attempted": 3, "failed": 0, "metrics": {"latency_p50_ms": {"value": 1.25, "unit": "ms"}}}""")
  }

  test("BENCHMARK.json names exactly the metrics the harness prints") {
    val b = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    def names(key: String) = b.get(key).elements().asScala.map(_.get("name").asText()).toSeq
    assert(names("end_to_end") === Main.EndToEnd)
    assert(names("per_layer") === Main.PerLayer.map(_._1))
    assert(names("workloads").forall(Workload.all.contains))
  }

  test("a tail percentile is omitted when fewer than 10 samples lie beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Report.tailQuantile(xs, 0.95).isEmpty) // 5 samples beyond p95
    assert(Report.tailQuantile(xs, 0.90).exists(v => math.abs(v - 90.1) < 1e-9)) // 10 beyond
    assert(Report.tailQuantile((1 to 200).map(_.toDouble), 0.95).isDefined)
    assert(Report.tailQuantile(Nil, 0.5).isEmpty)
    assert(Report.median(Seq(3.0, 1.0, 2.0, 10.0)) === 2.5)
  }

  test("call-site attribution maps each graft source file to its module, unknown files to other") {
    val roots = Seq("scala", "java").map(l => Paths.get("..", "src", "main", l, "graft"))
      .filter(Files.isDirectory(_))
    val files: Seq[Path] = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        (p.toString.endsWith(".scala") || p.toString.endsWith(".java")))
        .map(r.relativize).toList
      finally s.close()
    }
    assert(files.nonEmpty)
    files.foreach { rel =>
      val expected = if (rel.getNameCount == 1) "api" else rel.getName(0).toString
      val site = s"count at ${rel.getFileName}:42"
      assert(CallSites.moduleOf(site) === expected, site)
    }
    assert(CallSites.moduleOf("count at GraftKMeans.scala:123") === "index")
    assert(CallSites.moduleOf("collect at Searcher.scala:9") === "search")
    assert(CallSites.moduleOf("search at Api.scala:210") === "api")
    assert(CallSites.moduleOf("collect at Serve.scala:12") === CallSites.Other)
    assert(CallSites.moduleOf("$anonfun$run$1 at CompletableFuture.java:1768") === CallSites.Other)
    assert(CallSites.moduleOf("") === CallSites.Other)
  }

  test("a job from a harness file counts for the layer span it ran in, else for other") {
    val c = new Counters(spark)
    try {
      val before = c.snapshot()
      c.withLayer("pipeline")(spark.range(10).count())
      c.withLayer("bench")(spark.range(10).count())
      val d = Counters.delta(c.snapshot(), before)
      assert(d.getOrElse("jobs.pipeline", 0.0) >= 1.0)
      assert(d.getOrElse("jobs.other", 0.0) >= 1.0)
      assert(d("jobs") === d("jobs.pipeline") + d("jobs.other"))
    } finally spark.sparkContext.removeSparkListener(c)
  }

  test("self time is the span minus the union of its children") {
    val parent = Span(0, -1, 1, "p", "bench", 0L, 100000000L, Map.empty)
    val kids = Seq(
      Span(1, 0, 1, "a", "search", 10000000L, 40000000L, Map.empty),
      Span(2, 0, 1, "b", "search", 30000000L, 50000000L, Map.empty),
      Span(3, 0, 1, "c", "index", 90000000L, 120000000L, Map.empty))
    assert(math.abs(Tracer.selfMs(parent, kids) - 50.0) < 1e-9)
  }
}
