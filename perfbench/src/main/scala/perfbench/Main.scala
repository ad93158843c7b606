package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * {{{
  * Main --workload <serve|bulk|ingest|curate> --seed <n> --seconds <s>
  *      --trace <0|1> [--work <dir>]
  * }}}
  * Untraced (`--trace 0`): inputs from the seed, the workload's set-up
  * repeated (`setup_s` is the median), one timed pass with output checks;
  * the last stdout line carries the end-to-end metrics. Traced
  * (`--trace 1`): a listener counts Spark work, set-up is traced, an
  * untraced pass runs first and a traced pass after it (their difference
  * is the tracing overhead), then direct calls time single layers; the
  * last stdout line carries the per-layer metrics. Spans and the full
  * run record are written under `<work>/runs/`. */
object Main {

  /** The end-to-end metrics, in print order, on every workload. */
  val EndToEnd: Seq[String] = Seq("setup_s", "latency_p50_ms", "throughput", "quality", "heap_live_mb")

  /** Modules whose jobs are counted per operation, by call site. */
  val Modules: Seq[String] =
    Seq("api", "search", "core", "index", "meta", "fts", "util", "pipeline", CallSites.Other)

  /** Every per-layer metric, printed by every traced run (0 where the
    * workload does not run the layer). */
  val PerLayer: Seq[(String, String)] = Seq(
    "search.jobs_per_call" -> "count",
    "search.driver_ms_per_call" -> "ms",
    "search.task_ms_per_call" -> "ms",
    "search.result_mib_per_call" -> "MiB",
    "search.broadcast_mib_per_call" -> "MiB",
    "search.shuffle_mib_per_call" -> "MiB",
    "search.reopen_ms" -> "ms",
    "core.maxsim_gflops" -> "GFLOP/s",
    "core.s1_gflop_per_call" -> "GFLOP",
    "index.kmeans_ms" -> "ms",
    "index.encode_ms" -> "ms",
    "index.jobs_per_build" -> "count",
    "index.jobs_per_add" -> "count",
    "index.bytes_written_per_user_byte" -> "ratio",
    "index.compact_mib_rewritten" -> "MiB",
    "meta.where_ms" -> "ms",
    "meta.create_ms" -> "ms",
    "fts.search_ms" -> "ms",
    "fts.append_ms" -> "ms",
    "util.rewrite_ms" -> "ms",
    "util.files_written_per_add" -> "count",
    "pipeline.minhash_ms" -> "ms",
    "pipeline.lsh_candidates" -> "count",
    "pipeline.lsh_precision" -> "ratio",
    "pipeline.verify_ms" -> "ms",
    "pipeline.cc_ms" -> "ms",
    "pipeline.cc_jobs" -> "count",
    "pipeline.shuffle_mib" -> "MiB",
    "spark.task_busy_share" -> "ratio",
    "spark.gc_ms" -> "ms",
    "spark.spill_mib" -> "MiB",
    "spark.failed_tasks" -> "count",
    "spark.jobs" -> "count") ++
    Modules.map(m => s"spark.jobs.$m" -> "count") ++ Seq(
    "trace.overhead_ms" -> "ms",
    "trace.overhead_pct" -> "%",
    "trace.bookkeeping_ms" -> "ms")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work")
    require(m.keySet.subsetOf(known), s"unknown options: ${(m.keySet -- known).mkString(", ")}")
    val w = m.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workload.all.contains(w), s"unknown workload $w; one of ${Workload.all.keys.mkString(", ")}")
    val trace = m.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", s"--trace is 0 or 1, not $trace")
    val seconds = m.getOrElse("seconds", "10").toDouble
    require(seconds > 0, "--seconds must be positive")
    Args(w, m.getOrElse("seed", "1").toLong, seconds, trace == "1",
      Paths.get(m.getOrElse("work", "perfbench/.work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val runDir = a.work.resolve("runs").resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}")
    Files.createDirectories(runDir)
    val spark = session(a.work)
    try run(a, spark, runDir)
    finally spark.stop()
  }

  private def run(a: Args, spark: SparkSession, runDir: Path): Unit = {
    val wl = Workload.all(a.workload)()
    val counters = if (a.trace) Some(new Counters(spark)) else None
    val ctx = new Ctx(spark, a.seed, a.seconds, counters, a.work.resolve("data"))
    val tracer = new Tracer(counters)
    ctx.tracer = tracer
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    phases("jvm_to_session_ms") =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime).toDouble
    phases("prepare_ms") = Ctx.timedMs(wl.prepare(ctx))._2

    var state: wl.State = null.asInstanceOf[wl.State]
    val setupMs = (0 until wl.setupReps).map { r =>
      val (s, ms) = Ctx.timedMs(wl.setup(ctx, r))
      state = s
      ms
    }
    val setupS = Report.median(setupMs) / 1000.0

    ctx.tracer = new Tracer(None)
    val (plain, passMs) = Ctx.timedMs(wl.pass(ctx, state))
    phases("pass_ms") = passMs
    val heapMb = Ctx.liveHeapMb()

    val endToEnd = Seq(Metric("setup_s", setupS, "s")) ++ plain.endToEnd ++
      Seq(Metric("heap_live_mb", heapMb, "MB"))
    require(endToEnd.map(_.name) == EndToEnd, s"end-to-end metrics ${endToEnd.map(_.name)}")
    val detail = Seq(Metric("setup_s", setupS, "s"), Metric("heap_live_mb", heapMb, "MB"),
      Metric("error_rate", ctx.failed.toDouble / math.max(ctx.attempted, 1L), "ratio")) ++
      plain.detail

    val perLayer: Seq[Metric] = counters match {
      case None => Nil
      case Some(c) =>
        ctx.tracer = tracer
        val opsBefore = ctx.attempted
        val bookBefore = tracer.bookkeepingNs
        val before = c.snapshot()
        val (traced, wallMs) = Ctx.timedMs(wl.pass(ctx, state))
        phases("traced_pass_ms") = wallMs
        val d = Counters.delta(c.snapshot(), before)
        val ops = math.max(ctx.attempted - opsBefore, 1L).toDouble
        val bookMs = (tracer.bookkeepingNs - bookBefore) / 1e6 / ops
        val (layer, layerMs) = Ctx.timedMs(wl.layers(ctx, state))
        phases("layer_probes_ms") = layerMs
        def e2e(p: Pass) = p.endToEnd.find(_.name == "latency_p50_ms").get.value
        val over = e2e(traced) - e2e(plain)
        val spark = Map(
          "spark.task_busy_share" -> d.getOrElse("task_ms", 0.0) / (wallMs * ctx.cores),
          "spark.gc_ms" -> d.getOrElse("gc_ms", 0.0) / ops,
          "spark.spill_mib" -> d.getOrElse("spill_bytes", 0.0) / Workload.MiB,
          "spark.failed_tasks" -> d.getOrElse("failed_tasks", 0.0),
          "spark.jobs" -> d.getOrElse("jobs", 0.0) / ops,
          "trace.overhead_ms" -> over,
          "trace.overhead_pct" -> 100.0 * over / e2e(plain),
          "trace.bookkeeping_ms" -> bookMs) ++
          Modules.map(m => s"spark.jobs.$m" -> d.getOrElse(s"jobs.$m", 0.0) / ops)
        val all = layer ++ spark
        val unknown = all.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
        tracer.writeJsonl(runDir.resolve("spans.jsonl"))
        PerLayer.map { case (n, u) => Metric(n, all.getOrElse(n, 0.0), u) }
    }

    val record = Seq(
      s""""workload": ${Report.jsonString(a.workload)}""",
      s""""seed": ${a.seed}""",
      s""""seconds": ${Report.jsonNumber(a.seconds)}""",
      s""""trace": ${a.trace}""",
      s""""cores": ${ctx.cores}""",
      s""""attempted": ${ctx.attempted}""",
      s""""failed": ${ctx.failed}""",
      s""""errors": ${ctx.errors.map(Report.jsonString).mkString("[", ", ", "]")}""",
      s""""setup_ms": ${setupMs.map(Report.jsonNumber).mkString("[", ", ", "]")}""",
      s""""phases_ms": ${phases.map { case (k, v) => s"${Report.jsonString(k)}: ${Report.jsonNumber(v)}" }.mkString("{", ", ", "}")}""",
      s""""samples_ms": ${plain.samplesMs.map(Report.jsonNumber).mkString("[", ", ", "]")}""",
      s""""end_to_end": ${Report.metricsJson(endToEnd)}""",
      s""""detail": ${Report.metricsJson(detail)}""",
      s""""per_layer": ${Report.metricsJson(perLayer)}""").mkString("{", ", ", "}\n")
    Files.write(runDir.resolve("record.json"), record.getBytes("UTF-8"))

    ctx.errors.foreach(e => println(s"error $e"))
    detail.foreach(m => println(s"metric ${m.name} ${Report.jsonNumber(m.value)} ${m.unit}"))
    println(s"record ${a.work.relativize(runDir.resolve("record.json"))}")
    println(Report.resultLine(ctx.failed == 0, ctx.attempted, ctx.failed,
      if (a.trace) perLayer else endToEnd))
  }
}
