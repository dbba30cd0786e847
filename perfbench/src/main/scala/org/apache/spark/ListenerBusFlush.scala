package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so a
  * trace read right after an action sees all of that action's jobs,
  * stages and tasks. The bus is private to Spark; this is the one call
  * the benchmark needs from it. */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
