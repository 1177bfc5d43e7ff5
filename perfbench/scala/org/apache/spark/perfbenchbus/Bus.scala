package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this package sits inside
  * `org.apache.spark` only to reach its `waitUntilEmpty`, so counters are
  * complete before the benchmark reads them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
