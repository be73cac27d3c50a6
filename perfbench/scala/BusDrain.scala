package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Deterministic drain of Spark's listener bus: returns once every event
  * posted so far has reached every listener. The bus is `private[spark]`,
  * hence this object's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
