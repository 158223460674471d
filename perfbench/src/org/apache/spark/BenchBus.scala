package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * `SparkContext.listenerBus` is `private[spark]`, hence this one-line
  * residence in the `org.apache.spark` namespace. The traced run calls it
  * at the end of each op, so every job, stage and query-execution event
  * of that op is attributed before the next op starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
