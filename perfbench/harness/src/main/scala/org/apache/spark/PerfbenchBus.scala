package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the harness
  * drains it after every query so each query's listener events are counted
  * against that query and not the next. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
