package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]; specs count the
  * listeners attached to a context through this accessor. */
object TestListenerBus {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
