package graft.pipeline

import java.sql.DriverManager
import scala.jdk.CollectionConverters._

/** Forked-JVM receipt for MULTI-SESSION Thrift isolation + snapshot
  * visibility against the V2 catalog (round-11 verdict Next #5 —
  * promoting SqlEndpointSpec's temp-view isolation from spec to gate):
  *
  * Two CONCURRENT external JDBC sessions against one endpoint
  * (multiSession = true, each connection a cloned session):
  *  - connection B (reader) first creates a TEMPORARY VIEW named
  *    `fct_multi_mart` — the SAME unqualified name as the table the
  *    writer is about to build — holding a decoy row;
  *  - connection A (writer) then materializes the reference mart via
  *    CTAS: `CREATE OR REPLACE TABLE graft.raw.fct_multi_mart AS …`
  *    over the seeded `graft.raw.bitcoin_prices` (the q_pipeline_mart
  *    fixture rows);
  *  - connection B reads the COMMITTED snapshot through the qualified
  *    name (visibility: 3 mart rows, min 49992.75 / max 50262.50),
  *    while its unqualified `fct_multi_mart` still resolves to the
  *    decoy temp view (the view is not clobbered by the committed
  *    table, nor does it block qualified access);
  *  - connection A must NOT see B's temp view (unqualified name on A
  *    is TABLE_OR_VIEW_NOT_FOUND — per-connection isolation).
  *
  * Every assertion lands as a row of `graft.raw.multi_receipt`
  * (check_name, val) which the q_pipeline_thriftmulti gate reads and
  * hash-compares against a VALUES oracle — isolation and visibility
  * are IN the gate result, not just this probe's exit code.
  *
  * args(0) = warehouse directory. Prints THRIFT_MULTI_OK on success.
  */
object ThriftMultiProbe {
  def main(args: Array[String]): Unit = {
    val wh = args(0)
    // multiSession needs singleSession=false — a STATIC conf, hence
    // this dedicated JVM (Sessions.build pins it true for the library
    // surface; see MultiSessionProbe for the original derivation)
    val spark = graft.Sessions.build("4", Map(
      "spark.sql.hive.thriftServer.singleSession" -> "false",
      // catalog confs MUST be build-time (SparkConf): multi-session
      // mode hands each connection a fresh `newSession()`, which does
      // NOT inherit runtime `conf.set` values
      "spark.sql.catalog.graft" -> "graft.sources.GraftCatalog",
      "spark.sql.catalog.graft.warehouse" -> wh))
    try {
      // seed the raw layer with the gate fixture's three hourly ticks
      val p = new Pipeline(spark, wh)
      (1 to 3).foreach { h =>
        p.runOnceIncremental(Some(
          java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")))
      }

      val port = {
        val ss = new java.net.ServerSocket(0)
        try ss.getLocalPort finally ss.close()
      }
      val h = SqlEndpoint.start(spark, port, multiSession = true)
      try {
        Class.forName("org.apache.hive.jdbc.HiveDriver")
        def connect(): java.sql.Connection = {
          var c: java.sql.Connection = null
          var n = 0
          while (c == null && n < 40) {
            try c = DriverManager.getConnection(
              s"jdbc:hive2://localhost:$port/default", "anonymous", "")
            catch { case _: Exception => n += 1; Thread.sleep(500) }
          }
          require(c != null, "could not connect to the thrift endpoint")
          c
        }
        val writer = connect()
        val reader = connect()
        try {
          // B holds a decoy temp view under the mart's unqualified name
          reader.createStatement().execute(
            "CREATE TEMPORARY VIEW fct_multi_mart AS SELECT 'decoy' AS tag")
          // A commits the mart via CTAS through the V2 catalog
          writer.createStatement().execute(
            """CREATE OR REPLACE TABLE graft.raw.fct_multi_mart AS
              |SELECT CAST(extracted_at AS DATE) AS extraction_date,
              |       source AS data_source, symbol AS crypto_symbol,
              |       MIN(price_usd) AS min_price_usd,
              |       MAX(price_usd) AS max_price_usd,
              |       AVG(price_usd) AS avg_price_usd,
              |       COUNT(*) AS records
              |FROM graft.raw.bitcoin_prices
              |GROUP BY 1, 2, 3""".stripMargin)
          // B sees the committed snapshot through the qualified name
          val rs = reader.createStatement().executeQuery(
            """SELECT COUNT(*) AS n, MIN(min_price_usd) AS lo,
              |       MAX(max_price_usd) AS hi
              |FROM graft.raw.fct_multi_mart""".stripMargin)
          require(rs.next(), "reader: empty mart read-back")
          val (nRows, lo, hi) = (rs.getLong(1), rs.getDouble(2), rs.getDouble(3))
          // ... while its unqualified name still resolves to the decoy
          val rd = reader.createStatement().executeQuery(
            "SELECT tag FROM fct_multi_mart")
          val decoyIntact = rd.next() && rd.getString(1) == "decoy"
          // ... and A cannot see B's temp view
          // Only a resolution failure proves isolation — a dropped
          // connection / timeout / unrelated analysis error must NOT
          // count (it would pass the gate for the wrong reason).
          val isolated =
            try {
              writer.createStatement()
                .executeQuery("SELECT tag FROM fct_multi_mart")
              false
            } catch {
              case e: java.sql.SQLException
                  if Option(e.getMessage).exists(m =>
                    m.contains("TABLE_OR_VIEW_NOT_FOUND") ||
                      m.contains("cannot be found")) => true
            }
          // Concurrent-WRITER conflict (r12 verdict Next #6): two
          // fresh connections race a CTAS on the SAME table name.
          // The outcome (which writer wins, whether the loser commits
          // or refuses) is nondeterministic; the INVARIANT is not —
          // the committed table must be entirely one writer's output
          // (4 rows, one tag), never a torn mix, and at least one
          // writer must have committed. Only the invariant lands in
          // the receipt so the gate's oracle stays deterministic.
          val raceConns = Array(connect(), connect())
          val raceOk = new java.util.concurrent.atomic.AtomicInteger(0)
          val gate = new java.util.concurrent.CyclicBarrier(2)
          val threads = Array("alpha", "beta").zipWithIndex.map {
            case (tag, i) =>
              new Thread(() => {
                try {
                  gate.await()
                  raceConns(i).createStatement().execute(
                    s"""CREATE OR REPLACE TABLE graft.raw.race_mart AS
                       |SELECT u.i AS id, '$tag' AS tag
                       |FROM (SELECT explode(sequence(1, 4)) AS i) u"""
                      .stripMargin)
                  raceOk.incrementAndGet()
                } catch { case _: java.sql.SQLException => () }
              })
          }
          threads.foreach(_.start()); threads.foreach(_.join())
          raceConns.foreach(_.close())
          val rr = reader.createStatement().executeQuery(
            """SELECT COUNT(*) AS n, COUNT(DISTINCT tag) AS t
              |FROM graft.raw.race_mart""".stripMargin)
          require(rr.next(), "race: empty read-back")
          val (raceRows, raceTags) = (rr.getLong(1), rr.getLong(2))
          val raceCommitted = raceOk.get()
          // CROSS-PROCESS writer race (r13 verdict Next #4): the
          // in-process race above only proves the JVM-monitor half of
          // the commit lock; this one forks a SECOND JVM
          // (XprocCtasProbe: facade CoR CTAS loop on raw.race_xp)
          // and races it against THIS process's V2 staged CTAS loop
          // on the same table, so serialization can only come from
          // the `.graft_commit.lock` FILE lock. Invariant (as above):
          // the final table is entirely one writer's generation —
          // 4 rows, one tag — with zero staging residue and a pointer
          // naming a complete generation.
          val xprocCmd = Seq("java", "-Xmx2g", "-cp",
            sys.props("java.class.path")) ++
            java.lang.management.ManagementFactory.getRuntimeMXBean
              .getInputArguments.asScala.filter(_.startsWith("--add-opens")) ++
            Seq("graft.pipeline.XprocCtasProbe", wh, "xproc", "12")
          val xprocOut = java.io.File.createTempFile("graft-xproc", ".log")
          val xproc = new ProcessBuilder(xprocCmd: _*)
            .redirectErrorStream(true).redirectOutput(xprocOut).start()
          var probeCommits = 0
          // wall-clock deadline on the race loop: a hung forked JVM
          // (Spark startup stall) must fail the probe with its log,
          // not spin CREATE OR REPLACE forever and hang the verify run
          val raceDeadline = System.currentTimeMillis() + 120000L
          while (xproc.isAlive &&
              System.currentTimeMillis() < raceDeadline) {
            writer.createStatement().execute(
              """CREATE OR REPLACE TABLE graft.raw.race_xp AS
                |SELECT u.i AS id, 'probe' AS tag
                |FROM (SELECT explode(sequence(1, 4)) AS i) u""".stripMargin)
            probeCommits += 1
          }
          if (xproc.isAlive) xproc.destroyForcibly()
          val xprocDone = xproc.waitFor(120,
            java.util.concurrent.TimeUnit.SECONDS)
          val xprocLog = new String(
            java.nio.file.Files.readAllBytes(xprocOut.toPath), "UTF-8")
          require(xprocDone && xproc.exitValue() == 0 &&
            xprocLog.contains("XPROC_OK"),
            s"xproc CTAS probe failed:\n${xprocLog.takeRight(2000)}")
          val xr = reader.createStatement().executeQuery(
            """SELECT COUNT(*) AS n, COUNT(DISTINCT tag) AS t
              |FROM graft.raw.race_xp""".stripMargin)
          require(xr.next(), "xproc race: empty read-back")
          val (xRows, xTags) = (xr.getLong(1), xr.getLong(2))
          val nsDir = java.nio.file.Paths.get(wh, "raw")
          val residue = {
            val st = java.nio.file.Files.list(nsDir)
            try st.iterator().asScala.map(_.getFileName.toString)
              .count(n => n.startsWith(".__ctas_tmp_") ||
                n.startsWith("__stage_"))
            finally st.close()
          }
          // pointer-commit health: the raced table must have a pointer
          // naming an existing, complete generation (data + meta)
          val xpContainer = java.nio.file.Paths.get(wh, "raw", "race_xp")
          val brokenPointer = !LakeMeta.currentGen(xpContainer)
            .exists(g => java.nio.file.Files.isDirectory(
              xpContainer.resolve(g).resolve(
                graft.pipeline.LakeMeta.MetaDirName)))
          import spark.implicits._
          Seq(
            ("mart_rows", nRows),
            ("mart_lo_x100", math.round(lo * 100)),
            ("mart_hi_x100", math.round(hi * 100)),
            ("reader_sees_committed",
              if (nRows == 3L && lo == 49992.75 && hi == 50262.5) 1L else 0L),
            ("temp_view_isolated", if (isolated) 1L else 0L),
            ("decoy_shadow_intact", if (decoyIntact) 1L else 0L),
            ("race_rows", raceRows),
            ("race_single_writer", if (raceTags == 1L) 1L else 0L),
            ("race_not_torn",
              if (raceRows == 4L && raceTags == 1L &&
                raceCommitted >= 1) 1L else 0L),
            ("xproc_race_rows", xRows),
            ("xproc_single_writer", if (xTags == 1L) 1L else 0L),
            ("xproc_not_torn",
              if (xRows == 4L && xTags == 1L && probeCommits >= 1) 1L
              else 0L),
            ("xproc_no_residue",
              if (residue == 0 && !brokenPointer) 1L else 0L)
          ).toDF("check_name", "val")
            .createOrReplaceTempView("multi_receipt_rows")
          spark.sql(
            """CREATE OR REPLACE TABLE graft.raw.multi_receipt AS
              |SELECT check_name, val FROM multi_receipt_rows""".stripMargin)
          require(nRows == 3L && isolated && decoyIntact,
            s"multi-session contract violated: n=$nRows isolated=$isolated" +
              s" decoy=$decoyIntact")
          require(raceRows == 4L && raceTags == 1L && raceCommitted >= 1,
            s"concurrent-writer race torn: rows=$raceRows tags=$raceTags" +
              s" committed=$raceCommitted")
          require(xRows == 4L && xTags == 1L && residue == 0 &&
            !brokenPointer,
            s"cross-process race torn: rows=$xRows tags=$xTags " +
              s"residue=$residue brokenPointer=$brokenPointer")
        } finally { writer.close(); reader.close() }
        println("THRIFT_MULTI_OK")
      } finally h.stop()
    } finally spark.stop()
    sys.exit(0)
  }
}
