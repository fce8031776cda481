package org.apache.spark

import org.apache.spark.scheduler.SparkListenerJobStart

/** Scheduler facts a spec needs that Spark keeps `private[spark]`, hence
  * this package.
  */
object SchedulerProbe {
  /** Listener events arrive asynchronously; drain the bus before
    * reading counts.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** True for a job that ends in a result stage (an action or a write),
    * false for the shuffle-map jobs AQE submits per exchange.
    */
  def endsInResultStage(e: SparkListenerJobStart): Boolean =
    e.stageInfos.exists(_.shuffleDepId.isEmpty)
}
