package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Reaches the package-private calls the benchmark needs. */
object PerfbenchAccess {
  /** Waits until the listener bus has delivered every event posted so far,
    * so that listener-side counts are complete before they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Unloads every loaded state store provider, as Spark's maintenance task
    * does for a stopped query's stores at its next run. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
