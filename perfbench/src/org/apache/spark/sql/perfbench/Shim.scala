package org.apache.spark.sql.perfbench

/** The two package-private Spark calls the benchmark needs. */
object Shim {
  /** Blocks until every queued listener event has been delivered, so a
    * traced op's jobs, tasks and plan phases are all counted before the
    * next op starts. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Stops the JVM-wide state-store maintenance thread, which outlives
    * `SparkSession.stop()`. */
  def stopStateStore(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
