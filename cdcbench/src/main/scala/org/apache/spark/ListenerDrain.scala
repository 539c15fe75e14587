package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * progress and task reports are complete before they are read. The bus is
  * package-private to Spark, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
