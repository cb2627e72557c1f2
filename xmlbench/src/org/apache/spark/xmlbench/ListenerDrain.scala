package org.apache.spark.xmlbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so a
  * listener's per-operation figures are complete when the operation's
  * action returns. Lives in an `org.apache.spark` package because the
  * listener bus is `private[spark]`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
