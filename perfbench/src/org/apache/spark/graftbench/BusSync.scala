package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is `private[spark]`; this one-line bridge lives under
  * `org.apache.spark` so the traced run can read its listener counters
  * per op without racing the asynchronous delivery thread. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
