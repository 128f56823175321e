package org.apache.spark

/** Bridge to the private listener bus: the benchmark drains it before it
  * reads listener counters, so the last stage of a timed section is never
  * missing from them. The engine itself does not use this.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
