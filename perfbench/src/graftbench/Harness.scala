package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, traced: Boolean,
                      out: Path, work: Path, data: Path, cpus: Int, config: Path,
                      record: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(need("out")), Paths.get(need("work")),
      Paths.get(need("data")), need("cpus").toInt, Paths.get(need("config")),
      m.getOrElse("record", "0") == "1")
  }
}

/** One timed op's outcome, as written to the result file. */
final case class OpRec(id: Long, kind: String, startMs: Double, latencyMs: Double,
                       failure: Option[String], traced: Boolean, client: Int)

/** Shared machinery of the three workloads: the session, set-up phase
  * timing, the op wrapper (job group, cap, counters, drain) and layer
  * spans. */
final class Harness(val o: Opts, val cfg: JsonNode) {
  val trace = new Trace
  var spark: SparkSession = _
  var listener: Option[BenchListener] = None
  var warn: Option[WarnCounter] = None
  val setup = mutable.LinkedHashMap.empty[String, Any]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val window = mutable.LinkedHashMap.empty[String, Any]
  private var nextOp = 0L

  def wcfg: JsonNode = cfg.path("workloads").path(o.workload)

  def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Set-up phase timing; the phases' sum is the run's `setup_s`. */
  def phase[T](name: String)(body: => T): T = {
    val (r, s) = seconds(body)
    setup(name) = s
    r
  }

  /** Build the session once: the JVM's first build, as a user pays it,
    * is the `session_build_s` phase of set-up. */
  def buildSession(extra: Map[String, String] = Map.empty): Unit = {
    phase("session_build_s") { spark = graft.Sessions.build(o.cpus.toString, extra) }
    if (o.traced) {
      val l = new BenchListener(trace)
      spark.sparkContext.addSparkListener(l)
      listener = Some(l)
    }
  }

  def newOp(traced: Boolean): OpCtx = synchronized {
    nextOp += 1
    new OpCtx(nextOp, traced && o.traced)
  }

  /** JVM-global counters read around ops: codegen compile time (ns)
    * and count, files discovered by file listing, WARN events. */
  def counters(): Map[String, Double] = Map(
    "codegen_ms" -> org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
    "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "files_discovered" -> org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "warn_events" -> warn.map(_.count.get.toDouble).getOrElse(0.0))

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }

  /** Run one op on the calling thread under its own job group, with a
    * cap that cancels the group. A traced op drains the listener bus
    * before it is closed, so all of its events are attributed. */
  def runOp(kind: String, traced: Boolean, capSec: Int)(body: OpCtx => Unit): OpRec = {
    val ctx = newOp(traced)
    val group = s"gb-op-${ctx.id}"
    val sc = spark.sparkContext
    listener.foreach(_.groups.put(group, ctx))
    sc.setJobGroup(group, kind, interruptOnCancel = true)
    val timer = new java.util.Timer(true)
    @volatile var capped = false
    timer.schedule(new java.util.TimerTask {
      def run(): Unit = { capped = true; sc.cancelJobGroup(group) }
    }, capSec * 1000L)
    val c0 = counters()
    val start = trace.nowMs
    val failure =
      try { body(ctx); None }
      catch { case e: Throwable =>
        Some(if (capped) s"cap of $capSec s breached" else s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val end = trace.nowMs
    timer.cancel()
    sc.clearJobGroup()
    val d = delta(c0, counters())
    if (ctx.traced) {
      org.apache.spark.GraftBenchBus.drain(sc)
      trace.add(ctx.rootId, "op", start, end, "", ctx.id, d ++ Map("kind" -> kind))
    }
    listener.foreach(_.groups.remove(group))
    failure.foreach(f => System.err.println(s"[graftbench] op ${ctx.id} $kind failed: $f"))
    val rec = OpRec(ctx.id, kind, start, end - start, failure, ctx.traced, 0)
    synchronized { ops += rec }
    rec
  }

  /** A layer span inside an op: the layer's name is also set as the
    * thread's job phase property, so its jobs carry it. */
  def layer[T](ctx: OpCtx, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Harness.PhaseProperty)
    sc.setLocalProperty(Harness.PhaseProperty, name)
    val parent = ctx.stack.top
    ctx.spans += 1
    val id = s"${ctx.rootId}/$name#${ctx.spans}"
    ctx.stack.push(id)
    val s = trace.nowMs
    try body
    finally {
      val e = trace.nowMs
      ctx.stack.pop()
      sc.setLocalProperty(Harness.PhaseProperty, prev)
      if (ctx.traced) trace.add(id, name, s, e, parent, ctx.id)
    }
  }

  /** Counter totals over the timed loop (used where ops overlap). */
  def timedLoop[T](body: => T): T = {
    if (o.traced) warn = Some(WarnCounter.attach())
    val c0 = counters()
    val (r, s) = seconds(body)
    window("timed_wall_s") = s
    delta(c0, counters()).foreach { case (k, v) => window(k) = v }
    r
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      checkFailures += what
      System.err.println(s"[graftbench] check failed: $what")
    }

  /** The generated input tables (cached across runs, untimed). */
  def inputTables(sf: Double): String = {
    val (sizes, genS) = DataGen.cached(spark, o.data, sf)
    info ++= Seq("sf" -> sf, "rows" -> sizes.rows, "data_gen_s" -> genS)
    o.data.toString
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def writeResult(): Unit = {
    val setupS = setup.values.collect { case v: Double => v }.sum
    val json = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus,
      "traced_run" -> o.traced, "setup_s" -> setupS, "setup" -> setup,
      "peak_rss_mb" -> peakRssMb, "window" -> window,
      "check_failures" -> checkFailures, "info" -> info,
      "warn_by_logger" -> warn.map(w => scala.jdk.CollectionConverters
        .ConcurrentMapHasAsScala(w.byLogger).asScala.map { case (k, v) => k -> v.get }.toMap)
        .getOrElse(Map.empty),
      "ops" -> ops.map(r => Map("id" -> r.id, "kind" -> r.kind, "start" -> r.startMs,
        "latency_ms" -> r.latencyMs, "failure" -> r.failure, "traced" -> r.traced,
        "client" -> r.client))))
    Files.write(o.out.resolve("result.json"), json.getBytes("UTF-8"))
    if (o.traced) trace.write(o.out.resolve("trace.jsonl"))
  }
}

object Harness {
  val PhaseProperty = "graftbench.phase"
}
