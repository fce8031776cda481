package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run
  * drains it before attributing jobs and tasks to spans. The drain is
  * `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
