package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a traced
  * iteration's metrics are read only after every event of its jobs has been
  * delivered.
  */
object PerfbenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
