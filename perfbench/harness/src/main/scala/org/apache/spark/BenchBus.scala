package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * listener callbacks run on the bus thread, so counters are read only
  * after every event posted so far has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
