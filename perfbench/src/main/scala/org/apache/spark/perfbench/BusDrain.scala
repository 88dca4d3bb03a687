package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus; a traced operation
  * is closed only after every event it caused has been delivered. The bus
  * is `private[spark]`, so this lives in a subpackage of `org.apache.spark`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
