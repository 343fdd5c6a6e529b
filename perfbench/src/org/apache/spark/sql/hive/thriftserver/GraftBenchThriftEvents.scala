package org.apache.spark.sql.hive.thriftserver

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.hive.thriftserver.ui.{SparkListenerThriftServerOperationFinish, SparkListenerThriftServerOperationStart}

/** Package-located decoder for the Thrift server's operation events
  * (their classes are package-private to the thrift server). */
object GraftBenchThriftEvents {
  /** (operation id, session id, statement, job group id, start ms) */
  def started(e: SparkListenerEvent): Option[(String, String, String, String, Long)] = e match {
    case s: SparkListenerThriftServerOperationStart =>
      Some((s.id, s.sessionId, s.statement, s.groupId, s.startTime))
    case _ => None
  }

  /** (operation id, finish ms): the statement's result is computed;
    * the client's row fetches follow. */
  def finished(e: SparkListenerEvent): Option[(String, Long)] = e match {
    case f: SparkListenerThriftServerOperationFinish => Some((f.id, f.finishTime))
    case _ => None
  }
}
