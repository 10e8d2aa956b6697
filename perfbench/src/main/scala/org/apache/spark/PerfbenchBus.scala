package org.apache.spark

/** Lets the benchmark wait for its listener to see every event before it
  * reads the job records (the listener bus is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
