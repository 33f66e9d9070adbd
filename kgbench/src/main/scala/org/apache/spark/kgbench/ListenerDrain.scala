package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a layer's task metrics
  * are complete only once the bus has delivered every event posted before
  * the layer's action returned. The bus is `private[spark]`, hence this
  * package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
