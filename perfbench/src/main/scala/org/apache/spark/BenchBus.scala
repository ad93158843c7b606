package org.apache.spark

/** The listener bus delivers events on its own thread. Counters read at
  * a span boundary are only complete once every event posted before it
  * has been delivered; `waitUntilEmpty` is Spark-internal, hence this
  * package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
