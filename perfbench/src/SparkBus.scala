package org.apache.spark

/** Access to the listener bus queue, which Spark keeps package-private:
  * the traced run waits until every posted event has reached the
  * benchmark's listeners before it reads their counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
