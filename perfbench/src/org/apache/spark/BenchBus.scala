package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the trace reads its listener's records only once every event posted
  * so far has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
