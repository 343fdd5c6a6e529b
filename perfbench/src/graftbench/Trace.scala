package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.hive.thriftserver.GraftBenchThriftEvents

/** The run's span store. A span is (id, name, start, end, parent, op,
  * attributes); times are epoch milliseconds with sub-millisecond
  * digits, so harness spans (nanoTime) and listener spans (event
  * timestamps) share one clock. Spans stay in memory and are written
  * to one JSON-lines file when the run ends. */
final class Trace {
  private val lines = mutable.ArrayBuffer.empty[String]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nanos0 = System.nanoTime()

  def nowMs: Double = epoch0 + (System.nanoTime() - nanos0) / 1e6

  def add(id: String, name: String, startMs: Double, endMs: Double,
          parent: String, op: Long, attrs: Map[String, Any] = Map.empty): Unit = {
    val line = Json.obj(Seq("id" -> id, "name" -> name, "start" -> startMs,
      "end" -> endMs, "parent" -> parent, "op" -> op, "attrs" -> attrs))
    synchronized { lines += line }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** One timed op. `traced` ops get layer spans and listener spans;
  * untraced ops run the same code with the span recording off. */
final class OpCtx(val id: Long, val traced: Boolean) {
  val rootId = s"op:$id"
  private[graftbench] val stack = mutable.Stack[String](rootId)
  private[graftbench] var spans = 0
}

/** Listener that turns job, stage, task, SQL-execution and Thrift
  * events into spans of the op that caused them. Attribution follows
  * the scheduler's own links — task → stage → job → the job's
  * `spark.jobGroup.id` — never a "current op" variable, so a late
  * event still lands on its own op. Events of untraced ops are
  * dropped on arrival. The harness drains the bus before it closes a
  * traced op. */
final class BenchListener(trace: Trace) extends SparkListener {
  /** job group -> op, registered by the harness (or by the Thrift
    * binding below) before the op's first job is submitted */
  val groups = new ConcurrentHashMap[String, OpCtx]()

  private final class StageAgg(val op: OpCtx, val jobId: Int) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var deserMs = 0L; var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var peakMem = 0L
  }
  private val jobs = mutable.HashMap.empty[Int, (OpCtx, Double, String, String)]
  private val stages = mutable.HashMap.empty[(Int, Int), StageAgg]
  private val stageJob = mutable.HashMap.empty[Int, (OpCtx, Int)]
  private val sqlExecs = mutable.HashMap.empty[Long, (OpCtx, Double)]

  // Thrift binding: each JDBC client first sends a marker statement,
  // which ties its server session to the client; after that the k-th
  // statement on the session is the client's k-th op.
  val clientOps = new ConcurrentHashMap[(Int, Long), OpCtx]()
  private val sessionClient = mutable.HashMap.empty[String, Int]
  private val sessionSeq = mutable.HashMap.empty[String, Long]
  private val thriftOps = mutable.HashMap.empty[String, (OpCtx, Double)]
  private val Marker = """graftbench-client-(\d+)""".r.unanchored

  private def opOf(props: java.util.Properties): Option[OpCtx] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(groups.get(g))).filter(_.traced)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(e.properties).foreach { op =>
      val p = e.properties
      // the result stage's name is the job's call site ("parquet at Tables.scala:18")
      val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) = (op, e.time.toDouble, callSite,
        Option(p.getProperty(Harness.PhaseProperty)).getOrElse(""))
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, (op, e.jobId)))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { case (op, start, callSite, phase) =>
      trace.add(s"job:${e.jobId}", "job", start, e.time.toDouble, op.rootId,
        op.id, Map("call_site" -> callSite, "phase" -> phase))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { case (op, jobId) =>
      stages((si.stageId, si.attemptNumber())) = new StageAgg(op, jobId)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    stages.get((e.stageId, e.stageAttemptId)).filter(_ => m != null).foreach { a =>
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.deserMs += m.executorDeserializeTime
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.remove((si.stageId, si.attemptNumber())).foreach { a =>
      val start = si.submissionTime.getOrElse(0L).toDouble
      val end = si.completionTime.getOrElse(start.toLong).toDouble
      trace.add(s"stage:${si.stageId}.${si.attemptNumber()}", "stage", start, end,
        s"job:${a.jobId}", a.op.id, Map("tasks" -> a.tasks, "run_ms" -> a.runMs,
          "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs, "deserialize_ms" -> a.deserMs,
          "shuffle_write_bytes" -> a.shWrite, "shuffle_read_bytes" -> a.shRead,
          "fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spill,
          "peak_exec_mem_bytes" -> a.peakMem))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.flatMap(g => Option(groups.get(g))).filter(_.traced)
        .foreach(op => sqlExecs(s.executionId) = (op, s.time.toDouble))
    case x: SparkListenerSQLExecutionEnd =>
      sqlExecs.remove(x.executionId).foreach { case (op, start) =>
        val phases = org.apache.spark.sql.GraftBenchSql.phaseMs(x)
        def ms(p: String) = phases.getOrElse(p, 0L)
        trace.add(s"sql:${x.executionId}", "sql", start, x.time.toDouble,
          op.rootId, op.id, Map("analysis_ms" -> ms("analysis"),
            "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning")))
      }
    case _ =>
      GraftBenchThriftEvents.started(e).foreach { case (id, session, stmt, group, start) =>
        stmt match {
          case Marker(c) => sessionClient(session) = c.toInt
          case _ => sessionClient.get(session).foreach { c =>
            val seq = sessionSeq.getOrElse(session, 0L)
            sessionSeq(session) = seq + 1
            Option(clientOps.remove((c, seq))).foreach { op =>
              groups.put(group, op)
              if (op.traced) thriftOps(id) = (op, start.toDouble)
            }
          }
        }
      }
      GraftBenchThriftEvents.finished(e).foreach { case (id, end) =>
        thriftOps.remove(id).foreach { case (op, start) =>
          trace.add(s"thrift:$id", "thrift.server", start, end.toDouble,
            op.rootId, op.id)
        }
      }
  }
}

/** Counts WARN log events through an appender on the root logger. */
final class WarnCounter extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "graftbench-warn", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  val count = new AtomicLong()
  val byLogger = new ConcurrentHashMap[String, AtomicLong]()
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (e.getLevel == org.apache.logging.log4j.Level.WARN) {
      count.incrementAndGet()
      byLogger.computeIfAbsent(e.getLoggerName, _ => new AtomicLong()).incrementAndGet()
    }
}

object WarnCounter {
  def attach(): WarnCounter = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val a = new WarnCounter
    a.start()
    ctx.getConfiguration.getRootLogger.addAppender(a, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    a
  }
}
