package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * traced runs read their listener counters only after every posted
  * event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
