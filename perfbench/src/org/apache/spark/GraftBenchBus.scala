package org.apache.spark

/** Package-located access to the listener bus drain, which Spark keeps
  * `private[spark]`. The benchmark drains the bus before it closes an
  * op, so every job, stage and task event of that op has been seen by
  * its listener (no straggler lands on the next op). */
object GraftBenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
