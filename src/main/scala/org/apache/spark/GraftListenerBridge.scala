package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; `graft.QueryTime`
  * needs `waitUntilEmpty` so its per-query job/stage/task deltas
  * attribute cleanly (listener events are async). Same pattern
  * as `org.apache.spark.sql.GraftSqlBridge`.
  */
object GraftListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
