package org.apache.spark

/** The listener bus delivers events asynchronously, and its drain call is
  * package-private. The benchmark's tracer drains it between ops, outside
  * the timed spans, so every job, stage, task and micro-batch event of an
  * op is counted before the op's totals are closed. */
object IngestBenchBus {
  val TimeoutMs = 120000L

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(TimeoutMs)
}
