package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one run loop behind Bench, Verify and ScaleSmoke: each query
  * runs on the current session under a watchdog cap, with caches
  * released before it and its shuffle-write bytes counted.
  *
  * Timeout-proofing (rounds 3 and 4 both died mid-alphabet with half
  * the registry unreported; in round 4 trivial queries timed out or
  * came back with 0 rows right after heavy ones):
  *  - every run is a daemon worker under job group `<tag>-<name>`; past
  *    `capSec` (0 = no cap) the group is cancelled together with any
  *    job it submits later (a query caught between jobs, planning on
  *    the driver, would otherwise start its next job and run on), the
  *    worker gets 30 s to unwind, then is interrupted (a driver-side
  *    hang in planning or codegen has no cancellable job);
  *  - a breached run leaves the shared local JVM degraded (cancelled
  *    job groups, zombie codegen), so the session is stopped and
  *    rebuilt from `newSession` before `run` returns; the new context
  *    does not remember the cancelled group, so a later run of the
  *    same name is not refused;
  *  - before the first run of each name the DataFrame cache and every
  *    persisted or checkpointed RDD block are released, so no query
  *    free-rides on — or pays GC pressure for — a predecessor's blocks.
  *    A repeated run of the same name keeps what its previous run left
  *    (the steady state Bench measures on its second run);
  *  - `costOrdered` runs the cheap majority first, so a budget kill
  *    costs the expensive tail, not a random alphabetic half.
  *
  * Shuffle-write bytes are counted per run name by one task-end
  * listener, attributed through each stage's job group, so a straggler
  * event delivered after the next run started still lands on the run
  * that wrote it. The count for a name resets when it runs again.
  *
  * `stopSession` is how a breached session is retired; specs that run
  * on the shared test session pass a no-op so the context survives. */
final class QueryRunner(
    tag: String,
    capSec: Int,
    newSession: () => SparkSession,
    stopSession: SparkSession => Unit = _.stop()) {
  private val groupPrefix = s"$tag-"
  private val stageRun = new ConcurrentHashMap[Int, String]()
  private val shuffleBytes = new ConcurrentHashMap[String, LongAdder]()
  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val id = e.stageInfo.stageId
      if (group != null && group.startsWith(groupPrefix))
        stageRun.put(id, group.substring(groupPrefix.length))
      else stageRun.remove(id)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val name = stageRun.get(e.stageId)
      if (name != null && e.taskMetrics != null)
        shuffleBytes.computeIfAbsent(name, _ => new LongAdder)
          .add(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }
  private var current = attach(newSession())
  private var lastName: String = null

  private def attach(s: SparkSession): SparkSession = {
    stageRun.clear() // stage ids restart with every SparkContext
    s.sparkContext.addSparkListener(listener)
    s
  }

  /** The session the next run uses (replaced after a breach). */
  def spark: SparkSession = current

  /** Shuffle bytes written by the latest run of `name` (0 if none). */
  def shuffleWriteBytes(name: String): Long =
    Option(shuffleBytes.get(name)).map(_.sum).getOrElse(0L)

  /** Runs `body` on the current session under the cap. The outcome's
    * seconds are wall time until the worker finished or was given up
    * on; a breached run whose worker never finished carries a
    * TimeoutException. Failures print `[<tag>] <name> failed: <msg>`. */
  def run[T](name: String)(body: SparkSession => T): QueryRunner.Outcome[T] = {
    if (name != lastName) {
      current.catalog.clearCache()
      Caching.sweepPersistentRdds(current)
    }
    lastName = name
    shuffleBytes.remove(name)
    val s = current
    val sc = s.sparkContext
    val group = groupPrefix + name
    @volatile var result: Either[Throwable, T] =
      Left(new java.util.concurrent.TimeoutException(s"exceeded ${capSec}s cap"))
    val t0 = System.nanoTime()
    val worker = new Thread(() => {
      try {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        result = Right(body(s))
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        result = Left(e)
      } finally sc.clearJobGroup()
    }, group)
    worker.setDaemon(true)
    worker.start()
    worker.join(capSec * 1000L)
    val breached = worker.isAlive
    if (breached) {
      System.err.println(s"[$tag] $name exceeded ${capSec}s cap; cancelling")
      sc.cancelJobGroupAndFutureJobs(group)
      worker.join(30000L)
      if (worker.isAlive) {
        System.err.println(s"[$tag] $name unresponsive to job-group " +
          "cancel; interrupting worker")
        worker.interrupt()
      }
    }
    val outcome = QueryRunner.Outcome(result, (System.nanoTime() - t0) / 1e9, breached)
    if (breached) {
      System.err.println(s"[$tag] rebuilding SparkSession after $name")
      try stopSession(current) catch { case _: Throwable => () }
      current = attach(newSession())
    }
    outcome
  }
}

object QueryRunner {
  final case class Outcome[T](value: Either[Throwable, T], seconds: Double,
                              breached: Boolean)

  /** Last observed Verify seconds per query: the "name\tseconds" rows
    * of tools/verify_costs.tsv (refreshed from Verify's times.tsv), or
    * of SPARK_GRAFT_COSTS. A missing file or malformed row gives no
    * entry. */
  def verifyCosts(path: String = sys.env.getOrElse("SPARK_GRAFT_COSTS",
      "tools/verify_costs.tsv")): Map[String, Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(p)).asScala.flatMap { line =>
        line.split('\t') match {
          case Array(n, t) => scala.util.Try(n -> t.toDouble).toOption
          case _ => None
        }
      }.toMap
  }

  /** Cheapest first: unknown names (cost 0, never verified) lead, then
    * ascending cost, ties by name. */
  def costOrdered(names: Seq[String],
                  costs: Map[String, Double] = verifyCosts()): Seq[String] =
    names.sortBy(n => (costs.getOrElse(n, 0.0), n))
}
