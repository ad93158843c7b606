package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A failed output check; it fails the operation it belongs to. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What one workload run shares: the session, the seed, the run length,
  * the tracer (enabled only on the traced pass of a traced run) and the
  * tally of attempted and failed operations. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val counters: Option[Counters],
    val workDir: Path) {

  val cores: Int = spark.sparkContext.defaultParallelism

  /** Swapped by [[Main]]: disabled for untraced passes. */
  var tracer: Tracer = new Tracer(None)

  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** Runs one operation; an exception or a failed check counts it as
    * failed and keeps the message for the run record. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
        errors += s"$what: ${e.getClass.getName}: $msg"
        None
    }
  }

  def dir(name: String): String = {
    val p = workDir.resolve(name)
    graft.util.Fs.deleteRecursively(p.toString)
    p.toString
  }
}

object Ctx {
  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes and data-file stamps under `dir`, for counting the files a
    * call wrote. */
  def fileStamps(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .filterNot(p => p.getFileName.toString.startsWith("."))
          .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
          .toMap
      } finally s.close()
    }
  }

  def sizeBytes(dir: String): Long = fileStamps(dir).valuesIterator.map(_._1).sum

  /** Heap still in use after full collections, in MB: what the run keeps
    * resident. The pauses let Spark's cleaner drop what the collections
    * released. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}
