package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the benchmark must wait for it to
  * deliver every task-end event of an op before it reads the op's task
  * totals, so this one call lives under org.apache.spark. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
