package org.apache.spark

/** The listener bus drain is Spark-private; the benchmark needs it so that
  * every job/stage/task event of an operation has been delivered before the
  * counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
