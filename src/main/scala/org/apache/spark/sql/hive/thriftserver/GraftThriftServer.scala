package org.apache.spark.sql.hive.thriftserver

/** Package-located accessor for the (package-private) HiveThriftServer2
  * — the same pattern as `org.apache.spark.sql.GraftSql` for catalyst
  * internals. Lives here ONLY to re-export start/stop with public
  * types; all engine-facing API is `graft.pipeline.SqlEndpoint`. */
object GraftThriftServer {
  import scala.jdk.CollectionConverters._

  private def cliService(server: HiveThriftServer2)
      : Option[org.apache.hive.service.cli.thrift.ThriftCLIService] =
    server.getServices.asScala.collectFirst {
      case t: org.apache.hive.service.cli.thrift.ThriftCLIService => t
    }

  // ThriftBinaryCLIService holds its thrift TServer in a protected
  // field with no serving-state accessor on the Hive side (the
  // ThriftCLIService.isServing flag is never set in this build —
  // verified by decompiling every setServing call site), so the only
  // truthful signal is the TServer's OWN isServing flag, read
  // reflectively.
  private val serverField: java.lang.reflect.Field = {
    val f = classOf[org.apache.hive.service.cli.thrift.ThriftBinaryCLIService]
      .getDeclaredField("server")
    f.setAccessible(true)
    f
  }

  private def isServing(server: HiveThriftServer2): Boolean =
    cliService(server).exists {
      case b: org.apache.hive.service.cli.thrift.ThriftBinaryCLIService =>
        serverField.get(b) match {
          case t: org.apache.thrift.server.TServer => t.isServing
          case _ => false
        }
      case _ => false
    }

  /** Waits until the thrift service's serve() loop is actually running
    * (libthrift sets `TServer.isServing` inside serve()'s preServe,
    * after the blocking-accept loop is committed to). A raw socket
    * connect is NOT that signal: the listening socket is bound and
    * accepting kernel-backlog connections BEFORE `server.serve()` is
    * invoked, and a stop() landing in that gap nulls the service's
    * TServer field, so run() hits an NPE whose catch-all calls
    * System.exit(-1) — observed killing a whole test fork. Every stop
    * in this object is gated on this wait. */
  private def awaitServing(server: HiveThriftServer2, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000 * 1000
    var serving = isServing(server)
    while (!serving && System.nanoTime() < deadline) {
      Thread.sleep(100)
      serving = isServing(server)
    }
    serving
  }

  /** Spark cancels a statement's job group when its operation closes
    * (`SparkExecuteStatementOperation.cleanup`). By then the group's
    * jobs have finished, so `DAGScheduler` logs "Failed to cancel job
    * group <id>. Cannot find active jobs for it." once per statement:
    * all but a few of the endpoint's WARN lines, burying a real one.
    * This drops exactly that message for the statement groups the
    * endpoint started (recorded from its operation-start events, each
    * dropped with its one message); every other WARN, that message for
    * any other group included, still logs. A group cancelled while its
    * jobs run logs nothing and stays recorded until [[detach]]. */
  private final class StatementCancelWarns extends org.apache.logging.log4j.core.filter.AbstractFilter(
      org.apache.logging.log4j.core.Filter.Result.DENY,
      org.apache.logging.log4j.core.Filter.Result.NEUTRAL) {
    private val Logger = "org.apache.spark.scheduler.DAGScheduler"
    private val (prefix, suffix) = ("Failed to cancel job group ", ". Cannot find active jobs for it.")
    private val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    val listener: org.apache.spark.scheduler.SparkListener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: ui.SparkListenerThriftServerOperationStart => groups.add(s.groupId)
        case _ =>
      }
    }

    override def filter(e: org.apache.logging.log4j.core.LogEvent): org.apache.logging.log4j.core.Filter.Result = {
      val m = e.getMessage.getFormattedMessage
      if (m.startsWith(prefix) && m.endsWith(suffix) &&
          groups.remove(m.substring(prefix.length, m.length - suffix.length))) onMatch
      else onMismatch
    }

    private def context = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]

    /** On the scheduler logger's own config (created with an inherited
      * level if it has none), so an appender added there sees no
      * dropped event either. */
    def attach(sc: org.apache.spark.SparkContext): Unit = {
      sc.addSparkListener(listener)
      val config = context.getConfiguration
      if (config.getLoggerConfig(Logger).getName != Logger)
        config.addLogger(Logger, new org.apache.logging.log4j.core.config.LoggerConfig(Logger, null, true))
      this.start()
      config.getLoggerConfig(Logger).addFilter(this)
      context.updateLoggers()
    }

    def detach(sc: org.apache.spark.SparkContext): Unit = {
      context.getConfiguration.getLoggerConfig(Logger).removeFilter(this)
      context.updateLoggers()
      sc.removeSparkListener(listener)
      groups.clear()
    }
  }

  final class Handle private[thriftserver] (server: HiveThriftServer2,
      session: org.apache.spark.sql.classic.SparkSession,
      jvmDefaultTz: java.util.TimeZone,
      confBefore: Map[String, String],
      cancelWarns: StatementCancelWarns) {
    /** Stops the server AND undoes its shared-session side effects.
      * In singleSession mode the server operates directly on the
      * owning session, and its startup/operation mutates session confs
      * — observed: `spark.sql.datetime.java8API.enabled` flips to
      * true, so a later `collect()` returns java.time.LocalDate where
      * the engine's callers expect java.sql.Date (cross-suite test
      * poisoning). Restore every runtime conf the server changed, and
      * the JVM default timezone (Hive session state can call
      * TimeZone.setDefault).
      *
      * Stopping is gated on the serve() loop actually running (see
      * awaitServing) — a stop in the bind-to-serve() gap is a JVM-
      * killing race. If serving is never observed, the server is
      * LEAKED deliberately (it will serve until JVM exit) and an
      * IllegalStateException names the condition: a leaked listener
      * beats a dead JVM. */
    def stop(): Unit = {
      val safe = awaitServing(server, 15000)
      try { if (safe) server.stop() }
      finally {
        cancelWarns.detach(session.sparkContext)
        java.util.TimeZone.setDefault(jvmDefaultTz)
        val after = session.conf.getAll
        for ((k, v) <- confBefore if after.get(k) != Some(v))
          try session.conf.set(k, v) catch { case _: Throwable => () }
        for (k <- after.keySet if !confBefore.contains(k))
          try session.conf.unset(k) catch { case _: Throwable => () }
        if (!safe) throw new IllegalStateException(
          "thrift endpoint never reached serving state within 15 s; " +
            "leaking the server (it will serve until JVM exit) instead of " +
            "risking the stop-during-startup System.exit race")
      }
    }
  }

  def start(s: org.apache.spark.sql.SparkSession, port: Int): Handle =
    start(s, port, multiSession = false)

  /** `multiSession = true` starts the endpoint in per-connection
    * isolation mode: each JDBC connection gets its own cloned Spark
    * session (Hive's standard singleSession=false behavior), so client
    * temp views and SET state are scoped to the connection instead of
    * shared across every client and the engine. Cross-connection
    * sharing then goes through GLOBAL temp views (`global_temp.x`),
    * and the engine's kernel functions (extensions) serve every clone.
    * Because singleSession is a STATIC conf, the mode is fixed at
    * session build time — a multi-session endpoint needs a session
    * built with `spark.sql.hive.thriftServer.singleSession=false`
    * (i.e. a dedicated serving JVM, which is the multi-tenant
    * deployment shape anyway; MultiSessionProbe + its spec drive
    * exactly that). */
  def start(s: org.apache.spark.sql.SparkSession, port: Int,
      multiSession: Boolean): Handle = {
    val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sqlContext.setConf("hive.server2.thrift.port", port.toString)
    classic.sqlContext.setConf("hive.server2.thrift.bind.host", "localhost")
    // A RESTARTED endpoint (second start in one JVM) reads the port
    // from the JVM-cached Hive execution-client conf, NOT the
    // sqlContext conf above — observed: a second start on a new port
    // silently re-binds the FIRST port. The post-start probe below
    // turns that silent wrong-port serve into a fail-fast error.
    // singleSession (serve the OWNING session, so its registered temp
    // views are visible over JDBC) is a STATIC conf — it must be set on
    // the session builder (Sessions.build and TestSpark do). Fail fast
    // here instead of letting every table query die with
    // TABLE_OR_VIEW_NOT_FOUND at the client.
    val single =
      classic.conf.get("spark.sql.hive.thriftServer.singleSession", "false")
    if (multiSession)
      require(single == "false",
        "multi-session endpoint requires a session built with " +
          "spark.sql.hive.thriftServer.singleSession=false (static conf); " +
          "this session was built single-session")
    else
      require(single == "true",
        "start the session with spark.sql.hive.thriftServer.singleSession=true " +
          "(static conf) so the endpoint serves the owning session's tables")
    val tz = java.util.TimeZone.getDefault
    val confBefore = classic.conf.getAll
    // Belt and braces for the embedded use: Spark's patched
    // ThriftBinaryCLIService.run consults this flag in its Throwable
    // catch-all — default true means ANY startup failure (port race,
    // bind error) calls System.exit(-1) and takes the host JVM (an
    // engine, a test fork) with it. With it false the failure is
    // thrown as a ServiceException on the runner thread instead,
    // which is the right blast radius for an in-process endpoint.
    HiveThriftServer2.systemExitOnError.set(false)
    val cancelWarns = new StatementCancelWarns
    cancelWarns.attach(classic.sparkContext)
    val server =
      try HiveThriftServer2.startWithContext(classic.sqlContext)
      catch { case e: Throwable => cancelWarns.detach(classic.sparkContext); throw e }
    val handle = new Handle(server, classic, tz, confBefore, cancelWarns)
    // Wait for the serve() loop itself (awaitServing) — NOT a raw
    // socket connect, which succeeds from the moment the listening
    // socket is bound, strictly before serve() runs, and so cannot
    // make a subsequent stop() safe. Then verify the service bound the
    // REQUESTED port: Hive's execution-client conf is constructed once
    // per JVM, so a restart on a different port silently serves the
    // original one — fail fast with the actual constraint instead of
    // letting clients time out against a port nothing listens on.
    val serving = awaitServing(server, 30000)
    val boundPort = cliService(server).map(_.getPortNumber).getOrElse(0)
    if (!serving || boundPort != port) {
      // Stop ONLY a serving server — a stop before serve() runs is the
      // System.exit race itself. If serving was never observed, leak
      // the half-started service and fail loudly (the error names the
      // per-JVM port constraint, which is the only recovery).
      if (serving) { try handle.stop() catch { case _: Throwable => () } }
      throw new IllegalStateException(
        s"thrift endpoint did not come up on requested port $port" +
        (if (boundPort > 0 && boundPort != port) s" (it bound JVM-cached port $boundPort)"
         else "") +
        ". The Hive execution-client conf is cached per JVM, so an endpoint " +
        "restarted in the same JVM serves the FIRST configured port — reuse " +
        "that port (or a fresh JVM) instead.")
    }
    handle
  }
}
