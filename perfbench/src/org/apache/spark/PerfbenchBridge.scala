package org.apache.spark

/** Access to the `private[spark]` listener-bus drain. The traced run must see every job and task
  * event before it attributes them; the bus delivers events asynchronously. Lives in Spark's
  * package purely for visibility, like `org.apache.spark.sql.GraftSqlBridge`.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
