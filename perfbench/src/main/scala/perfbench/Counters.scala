package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Maps a job's call site (`count at GraftKMeans.scala:123`) to the repo
  * module whose source file triggered it. The file → module table is
  * generated from the program's source tree when the benchmark is built
  * (`modules.tsv`), so every program file is known; files outside it —
  * the benchmark's own, Spark's — count under `other`. */
object CallSites {

  val Other = "other"

  private val FileRe = """ at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r.unanchored

  lazy val table: Map[String, String] = {
    val in = getClass.getResourceAsStream("/perfbench/modules.tsv")
    require(in != null, "modules.tsv missing from the benchmark build")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(file, module) = l.split('\t'); file -> module
      }.toMap
    finally in.close()
  }

  def fileOf(callSite: String): Option[String] = callSite match {
    case FileRe(f) => Some(f)
    case _ => None
  }

  def moduleOf(callSite: String, modules: Map[String, String] = table): String =
    fileOf(callSite).flatMap(modules.get).getOrElse(Other)
}

/** Spark work counted by a listener, as running totals. Counter names
  * are metric-name safe; `snapshot` drains the listener bus first, so a
  * snapshot taken after a call has returned includes all of its work. */
final class Counters(spark: SparkSession) extends SparkListener {

  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val seenBroadcast = mutable.Set.empty[String]
  private val taskWindows = mutable.ArrayBuffer.empty[(Long, Long)]

  spark.sparkContext.addSparkListener(this)

  private def add(k: String, v: Double): Unit = totals(k) = totals(k) + v

  /** SQL execution id -> call site. Jobs of one query can run on Spark's
    * own threads (adaptive stages, broadcasts), where the job's call site
    * is a thread-pool frame; the query's execution start carries the
    * caller's site, and nested executions inherit their root's. */
  private val execSite = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val root = s.rootExecutionId.flatMap(execSite.get)
      execSite(s.executionId) =
        if (CallSites.moduleOf(s.description) != CallSites.Other) s.description
        else root.getOrElse(s.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    // a lazy result materialized by the harness has the harness's call
    // site; the layer of the span it ran in names the module instead
    val module = CallSites.moduleOf(site) match {
      case CallSites.Other => props.flatMap(p => Option(p.getProperty(Counters.LayerProperty)))
        .filter(Main.Modules.contains).getOrElse(CallSites.Other)
      case m => m
    }
    jobStart(e.jobId) = (e.time, module)
    add("jobs", 1)
    add(s"jobs.$module", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, module) =>
      add(s"job_ms.$module", (e.time - t0).toDouble)
    }
    if (e.jobResult != JobSucceeded) add("failed_jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    taskWindows += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    if (!e.taskInfo.successful) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("result_bytes", m.resultSize.toDouble)
      add("shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  /** Broadcast pieces are reported as block updates; each stored piece
    * counts once at its serialized size. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId
    if (id.isBroadcast && id.name.contains("piece") && info.storageLevel.isValid &&
        seenBroadcast.add(id.name))
      add("broadcast_bytes", (info.memSize + info.diskSize).toDouble)
  }

  /** Runs `body` with `layer` as the Spark local property jobs inherit. */
  def withLayer[A](layer: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Counters.LayerProperty)
    sc.setLocalProperty(Counters.LayerProperty, layer)
    try body finally sc.setLocalProperty(Counters.LayerProperty, prev)
  }

  def snapshot(): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized(totals.toMap)
  }

  /** Wall-clock ms within `[fromMs, toMs]` during which at least one
    * task was running. */
  def taskCoverMs(fromMs: Long, toMs: Long): Double = {
    val iv = synchronized(taskWindows.toSeq)
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }
    Tracer.coveredMs(iv).toDouble
  }
}

object Counters {
  val LayerProperty = "perfbench.layer"

  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    (after.keySet ++ before.keySet).iterator
      .map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)))
      .filter(_._2 != 0.0).toMap
}
