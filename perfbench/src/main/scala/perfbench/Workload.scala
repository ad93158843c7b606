package perfbench

/** The numbers one measuring pass produces. `endToEnd` carries the
  * benchmark's bounded metrics (the same names on every workload);
  * `detail` carries the workload's own named metrics. */
final case class Pass(endToEnd: Seq[Metric], detail: Seq[Metric], samplesMs: Seq[Double] = Nil)

/** A workload: a set-up repeated for `setup_s`, a timed pass, and —
  * traced runs only — direct calls into the layers it exercises. */
trait Workload {
  type State

  /** How many times [[setup]] runs; `setup_s` is the median. */
  def setupReps: Int = 3

  /** Generate and materialize the run's inputs (not timed). */
  def prepare(ctx: Ctx): Unit

  /** Build the program state the pass runs against. Timed. */
  def setup(ctx: Ctx, rep: Int): State

  /** Run operations for `ctx.seconds` and check their outputs. */
  def pass(ctx: Ctx, st: State): Pass

  /** Per-layer numbers from the traced pass's spans plus direct layer
    * calls made after it. Keys are per-layer metric names. */
  def layers(ctx: Ctx, st: State): Map[String, Double]
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "serve" -> (() => new Serve),
    "bulk" -> (() => new Bulk),
    "ingest" -> (() => new Ingest),
    "curate" -> (() => new Curate))

  /** Sum of one counter over spans. */
  def sum(spans: Seq[Span], counter: String): Double = spans.map(_.counters.getOrElse(counter, 0.0)).sum

  def perCall(spans: Seq[Span], counter: String): Double =
    if (spans.isEmpty) 0.0 else sum(spans, counter) / spans.size

  val MiB: Double = 1024.0 * 1024.0

  /** The search-layer metrics of a set of search-call spans. */
  def searchLayer(spans: Seq[Span]): Map[String, Double] =
    if (spans.isEmpty) Map.empty
    else Map(
      "search.jobs_per_call" -> perCall(spans, "jobs"),
      "search.driver_ms_per_call" ->
        spans.map(s => s.ms - s.counters.getOrElse("task_cover_ms", 0.0)).sum / spans.size,
      "search.task_ms_per_call" -> perCall(spans, "task_ms"),
      "search.result_mib_per_call" -> perCall(spans, "result_bytes") / MiB,
      "search.broadcast_mib_per_call" -> perCall(spans, "broadcast_bytes") / MiB,
      "search.shuffle_mib_per_call" -> perCall(spans, "shuffle_write_bytes") / MiB)

  /** Median of `reps` timings of `body`, in ms. */
  def medianMs(reps: Int)(body: => Any): Double =
    Report.median((1 to reps).map(_ => Ctx.timedMs(body)._2))
}
