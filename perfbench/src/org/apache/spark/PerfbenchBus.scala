package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a span closes only after every event its calls posted is processed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
