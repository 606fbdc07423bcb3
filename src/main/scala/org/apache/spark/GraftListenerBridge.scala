package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; `graft.Metrics.measure`
  * needs `waitUntilEmpty` so each body's jobs, stages, tasks and
  * observed metrics attribute cleanly (listener events are async).
  * Same pattern as `org.apache.spark.sql.GraftSqlBridge`.
  */
object GraftListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
