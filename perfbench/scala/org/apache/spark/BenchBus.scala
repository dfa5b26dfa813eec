package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark reads its listener counters only after every event of
  * the measured window has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
