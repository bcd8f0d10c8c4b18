package org.apache.spark

/** The listener bus delivers task-end events asynchronously; a span's
  * folded task metrics are complete only once the bus is empty. The
  * drain is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
