package org.apache.spark

/** Lets the benchmark's tracer wait for Spark's asynchronous listener bus
  * to deliver every posted event, so per-op aggregates are read only
  * after all of the op's job, stage and task events have arrived. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
