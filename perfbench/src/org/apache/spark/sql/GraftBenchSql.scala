package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Package-located access to the `QueryExecution` an execution-end
  * event carries (`private[sql]`): its planning tracker's phase
  * durations in ms (analysis, optimization, planning). */
object GraftBenchSql {
  def phaseMs(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
      .getOrElse(Map.empty)
}
