package org.apache.spark

/** Waits until every event posted to the listener bus has been delivered.
  * The bus is asynchronous, so the benchmark drains it before it reads
  * what its listeners recorded. Lives in Spark's package because the
  * bus is package-private. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
