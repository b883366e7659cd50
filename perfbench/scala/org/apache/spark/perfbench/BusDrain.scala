package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued scheduler event reached the listeners, so a
  * traced run reads complete counters. The bus is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
