package org.apache.spark

/** The listener bus delivers events asynchronously. A trace step is
  * attributed only after every event it caused has been delivered, so
  * the harness drains the bus between steps; the drain is
  * package-private to Spark, hence this one-line bridge. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
