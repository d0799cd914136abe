package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]; the benchmark drains it
  * before reading its listener totals so that every event of a timed
  * call is counted. Called only outside timed windows. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
