package org.apache.spark

/** Blocks until every posted listener event has been delivered, so the
  * traced run reads complete job, stage and task metrics. The bus is
  * `private[spark]`; this is the only reason the file lives in this package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
