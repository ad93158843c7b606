package perfbench

import scala.collection.mutable

/** One call into a layer, recorded by the benchmark around the call.
  * `opId` is shared by every span of one benchmark operation; `parent`
  * is the enclosing span's id (-1 at the root). `counters` holds the
  * listener counters that moved between the span's start and end. */
final case class Span(
    id: Int, parent: Int, opId: Long, name: String, layer: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out when the run ends. Disabled, a
  * span is just its body: the untraced run pays nothing, which is what
  * makes traced-minus-untraced the tracing overhead. */
final class Tracer(counters: Option[Counters]) {

  val enabled: Boolean = counters.isDefined

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Long)] // (span id, op id)
  private var nextSpan = 0
  private var nextOp = 0L

  /** Time spent reading counters at span boundaries: the tracer's own cost. */
  var bookkeepingNs = 0L

  private def snapshot(): Map[String, Double] = {
    val t0 = System.nanoTime()
    try counters.get.snapshot() finally bookkeepingNs += System.nanoTime() - t0
  }

  /** A root span that starts a new operation id. */
  def op[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else { nextOp += 1; open(name, layer, nextOp)(body) }

  /** A span inside the current operation (a new operation when none is
    * open). */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else if (stack.isEmpty) op(name, layer)(body)
    else open(name, layer, stack.top._2)(body)

  private def open[A](name: String, layer: String, opId: Long)(body: => A): A = {
    val id = nextSpan
    nextSpan += 1
    val parent = if (stack.isEmpty) -1 else stack.top._1
    val before = snapshot()
    stack.push((id, opId))
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try counters.get.withLayer(layer)(body)
    finally {
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      stack.pop()
      val d = Counters.delta(snapshot(), before) + ("task_cover_ms" -> counters.get.taskCoverMs(w0, w1))
      done += Span(id, parent, opId, name, layer, t0, t1, d)
    }
  }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** Spans called `name` inside operations whose root span is `opName`. */
  def within(opName: String, name: String): Seq[Span] = {
    val ops = done.filter(s => s.parent == -1 && s.name == opName).map(_.opId).toSet
    done.filter(s => s.name == name && ops(s.opId)).toSeq
  }

  /** Span duration minus the part of it that its child spans cover. */
  def selfMs(s: Span): Double = Tracer.selfMs(s, done.filter(_.parent == s.id).toSeq)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Report.jsonString(k)}: ${Report.jsonNumber(v)}" }
        .mkString("{", ", ", "}")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.opId}, """ +
        s""""name": ${Report.jsonString(s.name)}, "layer": ${Report.jsonString(s.layer)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""self_ms": ${Report.jsonNumber(selfMs(s))}, "counters": $cs}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
    (s.endNs - s.startNs - coveredMs(iv)) / 1e6
  }

  /** Length of the union of half-open intervals. */
  def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = 0L
    var curB = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) covered += curB - curA
        curA = a; curB = b; open = true
      } else curB = math.max(curB, b)
    }
    if (open) covered += curB - curA
    covered
  }
}
