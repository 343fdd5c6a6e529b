package graft

import org.scalatest.funsuite.AnyFunSuite
import java.sql.DriverManager

/** Real-connection test of the Thrift/JDBC endpoint: start the server
  * in-process, connect with the Hive JDBC driver (the same driver
  * dbt-spark's thrift method uses), and run SQL — a parquet-backed
  * view and one of the engine's registered kernel functions. */
class SqlEndpointSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("JDBC client runs SQL (incl. a graft kernel) over the thrift endpoint") {
    val port = TestSpark.endpointPort
    val server = graft.pipeline.SqlEndpoint.start(spark, port)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      // the server comes up asynchronously; retry the connect briefly
      var conn: java.sql.Connection = null
      var attempts = 0
      while (conn == null && attempts < 40) {
        try conn = DriverManager.getConnection(
          s"jdbc:hive2://localhost:$port/default", "anonymous", "")
        catch { case _: Exception => attempts += 1; Thread.sleep(500) }
      }
      assert(conn != null, "could not connect to the thrift endpoint")
      try {
        val st = conn.createStatement()
        // a view registered by the OWNING session must be visible over
        // JDBC (singleSession mode — without it every connection gets
        // an isolated newSession() and the server's announced tables
        // all resolve to TABLE_OR_VIEW_NOT_FOUND)
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .createOrReplaceTempView("endpoint_docs")
        val shared = st.executeQuery("SELECT COUNT(*) AS n FROM endpoint_docs")
        assert(shared.next() && shared.getLong(1) > 0)
        st.execute("CREATE TEMPORARY VIEW docs USING parquet OPTIONS " +
          "(path '/root/testdata/sf0.001/documents.parquet')")
        val rs = st.executeQuery("SELECT COUNT(*) AS n FROM docs")
        assert(rs.next() && rs.getLong(1) > 0)
        // engine kernel functions are served through the endpoint
        val rk = st.executeQuery(
          "SELECT vec_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c")
        assert(rk.next() && math.abs(rk.getDouble(1) - 1.0) < 1e-9)
      } finally conn.close()
    } finally server.stop()
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF over spark.sql and JDBC") {
    import spark.implicits._
    val cat = new graft.pipeline.LakeCatalog(spark, TestSpark.tempDir("graft-tt"))
    cat.createNamespace("raw")
    cat.append("raw.tt", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val afterFirst = java.time.Instant.now()
    Thread.sleep(1100) // snapshot log stores second-grain-distinct instants
    cat.append("raw.tt", Seq((3L, "c")).toDF("id", "s"))
    cat.exposeSql("raw.tt", Some("tt_view"))
    try {
      def ids(sqlText: String): Set[Long] =
        spark.sql(sqlText).collect().map(_.getAs[Long]("id")).toSet
      assert(ids("SELECT id FROM tt_view VERSION AS OF 1") === Set(1L, 2L))
      assert(ids("SELECT id FROM tt_view VERSION AS OF 2") === Set(1L, 2L, 3L))
      assert(ids("SELECT id FROM tt_view") === Set(1L, 2L, 3L))
      val tsLit = java.sql.Timestamp.from(afterFirst).toString.stripSuffix(".0")
      assert(ids(s"SELECT id FROM tt_view TIMESTAMP AS OF '$tsLit'")
        === Set(1L, 2L))
      // a timestamp before any commit surfaces the catalog's error
      val e = intercept[Exception](
        ids("SELECT id FROM tt_view TIMESTAMP AS OF '1999-01-01 00:00:00'"))
      assert(e.getMessage.contains("no snapshot"))
      // an UNregistered view still gets Spark's standard rejection
      Seq((9L, "z")).toDF("id", "s").createOrReplaceTempView("tt_plain")
      val u = intercept[Exception](ids("SELECT id FROM tt_plain VERSION AS OF 1"))
      assert(u.getMessage.contains("TIME_TRAVEL"))

      // and the same works over a real JDBC connection (the dbt path)
      val port = TestSpark.endpointPort
      val server = graft.pipeline.SqlEndpoint.start(spark, port)
      try {
        Class.forName("org.apache.hive.jdbc.HiveDriver")
        var conn: java.sql.Connection = null
        var attempts = 0
        while (conn == null && attempts < 40) {
          try conn = DriverManager.getConnection(
            s"jdbc:hive2://localhost:$port/default", "anonymous", "")
          catch { case _: Exception => attempts += 1; Thread.sleep(500) }
        }
        assert(conn != null, "could not connect to the thrift endpoint")
        try {
          val st = conn.createStatement()
          val rs = st.executeQuery(
            "SELECT COUNT(*) AS n FROM tt_view VERSION AS OF 1")
          assert(rs.next() && rs.getLong(1) === 2L)
          val rs2 = st.executeQuery(
            "SELECT COUNT(*) AS n FROM tt_view VERSION AS OF 2")
          assert(rs2.next() && rs2.getLong(1) === 3L)
        } finally conn.close()
      } finally server.stop()
    } finally graft.plans.TimeTravel.clear()
  }

  test("closing a statement logs no failed-cancel WARN; other groups still do") {
    val logger = org.apache.logging.log4j.LogManager.getLogger(
      "org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-cancel-warns", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    def cancelWarns = warns.toArray.map(_.toString).filter(_.startsWith("Failed to cancel job group"))
    val port = TestSpark.endpointPort
    val server = graft.pipeline.SqlEndpoint.start(spark, port)
    try {
      logger.addAppender(appender)
      LogScope.withLevel(logger.getName, org.apache.logging.log4j.Level.WARN) {
        Class.forName("org.apache.hive.jdbc.HiveDriver")
        var conn: java.sql.Connection = null
        var attempts = 0
        while (conn == null && attempts < 40) {
          try conn = DriverManager.getConnection(
            s"jdbc:hive2://localhost:$port/default", "anonymous", "")
          catch { case _: Exception => attempts += 1; Thread.sleep(500) }
        }
        assert(conn != null, "could not connect to the thrift endpoint")
        try (1 to 20).foreach { i =>
          val st = conn.createStatement()
          try {
            val rs = st.executeQuery(s"SELECT COUNT(*) FROM range($i)")
            assert(rs.next() && rs.getLong(1) === i.toLong)
          } finally st.close()
        } finally conn.close()
        // control: a group that is no statement's, with no jobs, still
        // warns; the scheduler handles cancels in order, so once this
        // WARN is in, every statement's cancel has been handled
        val group = s"graft-no-statement-${System.nanoTime}"
        spark.sparkContext.cancelJobGroup(group)
        val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
        while (!cancelWarns.exists(_.contains(group)) && System.nanoTime < deadline)
          Thread.sleep(20)
        assert(cancelWarns.toSeq ===
          Seq(s"Failed to cancel job group $group. Cannot find active jobs for it."))
      }
    } finally {
      logger.removeAppender(appender)
      server.stop()
    }
  }

  test("multi-session mode isolates per-connection temp views (forked JVM)") {
    // singleSession is static and this JVM's session is built with it
    // true, so the isolation mode runs in a forked JVM (MultiSessionProbe)
    val e = intercept[IllegalArgumentException](
      graft.pipeline.SqlEndpoint.start(spark, TestSpark.endpointPort,
        multiSession = true))
    assert(e.getMessage.contains("singleSession=false"))
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val classes = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val cmd = (Seq("java", "-Xmx3g", "-cp", s"/opt/spark/jars/*:$classes") ++
      addOpens ++
      Seq("graft.pipeline.MultiSessionProbe",
        (TestSpark.endpointPort + 137).toString))
    val outFile = java.io.File.createTempFile("graft-msprobe", ".log")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(outFile)
    val proc = pb.start()
    val done = proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
    def out = new String(
      java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
    if (!done) proc.destroyForcibly()
    assert(done, s"probe timed out; output:\n${out.takeRight(3000)}")
    assert(proc.exitValue() === 0 && out.contains("MULTI_SESSION_OK"),
      s"probe failed (exit ${proc.exitValue()}); output:\n${out.takeRight(3000)}")
  }

  test("endpoint restart on a different port fails fast, not silently") {
    // Hive's execution-client conf is cached per JVM: a restarted
    // endpoint serves the FIRST configured port no matter what the new
    // start requests. The guard must surface that as an error instead
    // of letting clients time out against a dead port.
    // pin the JVM's endpoint port (idempotent if a prior test already did)
    graft.pipeline.SqlEndpoint.start(spark, TestSpark.endpointPort).stop()
    val e = intercept[IllegalStateException] {
      graft.pipeline.SqlEndpoint.start(spark, TestSpark.endpointPort + 76)
    }
    assert(e.getMessage.contains("FIRST configured port"))
    // and the endpoint still works on the pinned port afterwards
    val again = graft.pipeline.SqlEndpoint.start(spark, TestSpark.endpointPort)
    again.stop()
  }
}
