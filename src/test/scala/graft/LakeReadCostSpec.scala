package graft

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, concat_ws}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** The fixed cost of a lake commit and read: a lake read lists no
  * directory through Spark (at any listing threshold), the Hadoop conf
  * carries no YARN defaults, a read of a few small files plans as one
  * partition, and a read of a dot-prefixed generation logs no "All
  * paths were ignored" WARN. */
class LakeReadCostSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val jobGroups = new ConcurrentLinkedQueue[String]()
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
  })

  /** Jobs `body` starts, counted by job group once a later marker job
    * has reached the (FIFO) listener bus. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, marker) = (s"lakecost-${System.nanoTime}", s"marker-${System.nanoTime}")
    sc.setJobGroup(group, "measured")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(marker, "marker")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(30)
    while (!jobGroups.contains(marker) && System.nanoTime < deadline) Thread.sleep(10)
    assert(jobGroups.contains(marker), "marker job never reached the listener")
    jobGroups.toArray.count(_ == group)
  }

  private def ts(h: Int): Timestamp =
    Timestamp.from(java.time.Instant.parse("2026-03-01T00:00:00Z").plusSeconds(3600L * h))

  private def exchanges(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
  }

  private def yarnKeys(c: Configuration): Int = c.iterator().asScala.map(_.getKey)
    .count(k => Option(c.getPropertySources(k)).exists(_.contains(Sessions.YarnDefaults)))

  test("a 40-commit raw table read plus count() starts exactly one job") {
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-lake40"))
    (0 until 40).foreach(i => Ingest.run(spark, cat, PriceSource.fixtures, i.toLong, ts(i)))
    // the read plans from the table state's own listing: no job, even
    // at Spark's default threshold (32), where a listing of 40 commit
    // dirs is a job
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.get(threshold)
    assert(jobsOf(cat.table(Ingest.RawTable)) === 0)
    spark.conf.set(threshold, "32")
    try {
      assert(jobsOf(cat.table(Ingest.RawTable)) === 0)
      // control: Spark's own listing of the same generation's children
      val st = LakeMeta.resolve(cat.warehouse, Ingest.RawTable)
      assert(jobsOf(spark.read.schema(st.schema.get).option("basePath", st.dir.toString)
        .parquet(st.readable.map(c => s"${st.dir}/$c"): _*)) === 1)
    } finally spark.conf.set(threshold, prev)
    // and the count is one job (AQE would run its shuffle stage as a
    // job of its own)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    var n = 0L
    try assert(jobsOf { n = cat.table(Ingest.RawTable).count() } === 1)
    finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(n === 120L)
  }

  test("Checks.report over a one-file table plans no exchange; a multi-file table keeps them") {
    // "multi-file" is more files than cores: a few small files (three
    // here) also read as one partition
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-onesplit"))
    cat.createNamespace("mart")
    val rows = (1 to 50).map(i => (i.toLong, s"k${i % 7}", i % 3 == 0))
    val cores = spark.sparkContext.defaultParallelism
    cat.createOrReplace("mart.one", rows.toDF("id", "k", "flag").coalesce(1))
    cat.createOrReplace("mart.three", rows.toDF("id", "k", "flag").repartition(3))
    cat.createOrReplace("mart.many", rows.toDF("id", "k", "flag").repartition(cores + 1))
    def files(t: String) = cat.table(t).inputFiles.length
    assert((files("mart.one"), files("mart.three"), files("mart.many")) === ((1, 3, cores + 1)))
    def report(df: DataFrame) = Checks.report(
      df.withColumn("grain", concat_ws("|", col("k"), col("flag").cast("string"))),
      Seq(Checks.notNull("id"), Checks.nonNegative("id")), Seq("grain"))

    val one = report(cat.table("mart.one"))
    assert(exchanges(one).isEmpty, one.queryExecution.executedPlan)
    assert(jobsOf(report(cat.table("mart.one")).collect()) === 1)
    // the same report over the uncoalesced scan of the same file
    val plain = report(spark.read.parquet(cat.dataPath("mart.one")))
    assert(exchanges(plain).nonEmpty)
    assert(one.collect().toSeq === plain.collect().toSeq)
    assert(one.collect().map(_.getAs[Long]("n_violations")).toSeq === Seq(0L, 0L, 36L))

    // three files: one task reads them all, and the report is the
    // uncoalesced one
    val three = report(cat.table("mart.three"))
    assert(exchanges(three).isEmpty, three.queryExecution.executedPlan)
    val threePlain = report(spark.read.parquet(cat.dataPath("mart.three")))
    assert(exchanges(threePlain).nonEmpty)
    assert(three.collect().toSeq === threePlain.collect().toSeq)
    assert(three.collect().toSeq === one.collect().toSeq)

    // two distinct columns plan an Expand, whose output partitioning
    // is unknown: the exchanges above it stay
    val two = Checks.report(cat.table("mart.one"), Nil, Seq("k", "id"))
    assert(exchanges(two).nonEmpty)

    val many = report(cat.table("mart.many"))
    assert(exchanges(many).nonEmpty, many.queryExecution.executedPlan)
    assert(many.collect().toSeq === one.collect().toSeq)

    // a table with no data file still reads 0 rows with its schema (an
    // empty day-partitioned append writes no file)
    cat.append("mart.none", Seq((1L, ts(1))).toDF("id", "at").filter(col("id") < 0),
      partitionTs = Some("at"))
    val none = cat.table("mart.none")
    assert(none.inputFiles.isEmpty)
    assert(none.columns.toSeq === Seq("id", "at") && none.count() === 0L)
  }

  test("snapshots sorts without an exchange and keeps commit order") {
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-snaps"))
    (0 until 3).foreach(i => Ingest.run(spark, cat, PriceSource.fixtures, i.toLong, ts(i)))
    val snaps = cat.snapshots(Ingest.RawTable)
    assert(exchanges(snaps).isEmpty, snaps.queryExecution.executedPlan)
    assert(snaps.collect().map(_.getAs[Long]("snapshot_id")).toSeq === Seq(1L, 2L, 3L))
  }

  test("lake reads log no ignored-paths WARN; pruning and empty tables unchanged") {
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[CoreLogger]
    val warns = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-lake-warns", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try LogScope.withLevel(logger.getName, Level.WARN) {
      val wh = TestSpark.tempDir("graft-nowarn")
      val cat = new LakeCatalog(spark, wh)
      (0 until 3).foreach(i => Ingest.run(spark, cat, PriceSource.fixtures, i.toLong, ts(24 * i)))
      Transform.run(spark, cat)
      assert(cat.table(Ingest.RawTable).count() === 9L)
      assert(cat.table(Transform.FctTable).count() === 9L)
      // the V2 surfaces read the same listed children: catalog and path mount
      spark.conf.set("spark.sql.catalog.graft_nowarn", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft_nowarn.warehouse", wh)
      assert(spark.table(s"graft_nowarn.${Transform.FctTable}").count() === 9L)
      assert(spark.read.format("graft").load(cat.tablePath(Ingest.RawTable)).count() === 9L)
      // the snapshot filter still prunes commit dirs at the scan
      val asOf = cat.tableAsOf(Ingest.RawTable, 2L)
      assert(asOf.count() === 6L)
      def filesRead(df: DataFrame): Long = {
        df.collect()
        collect(df.queryExecution.executedPlan) {
          case f: FileSourceScanExec => f.metrics("numFiles").value
        }.sum
      }
      assert(filesRead(asOf) < filesRead(cat.table(Ingest.RawTable)))
      assert(asOf.queryExecution.executedPlan.toString.contains("PartitionFilters"))
      // a table with no data files yet reads as empty, schema intact
      cat.createNamespace("raw")
      cat.append("raw.t", Seq((1L, "a")).toDF("id", "s").filter(col("id") < 0))
      val empty = cat.table("raw.t")
      assert(empty.columns.toSeq === Seq("id", "s") && empty.count() === 0L)
      assert(warns.isEmpty, warns)
      // control: handed the generation dir itself, Spark does warn
      spark.read.parquet(cat.dataPath(Ingest.RawTable)).count()
      assert(warns.asScala.exists(_.contains("All paths were ignored")), warns)
    } finally logger.removeAppender(appender)
  }

  test("newHadoopConf has no yarn-default.xml key after an append, a CTAS, a read " +
      "and an endpoint statement") {
    // control: a fresh conf still loads them
    assert(yarnKeys(new Configuration()) > 500)
    val p = new Pipeline(spark, TestSpark.tempDir("graft-conf"))
    p.runOnce(Some(ts(1)))
    assert(p.catalog.table(Transform.FctTable).count() === 3L)
    val server = SqlEndpoint.start(spark, TestSpark.endpointPort)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      var conn: java.sql.Connection = null
      var attempts = 0
      while (conn == null && attempts < 40) {
        try conn = java.sql.DriverManager.getConnection(
          s"jdbc:hive2://localhost:${TestSpark.endpointPort}/default", "anonymous", "")
        catch { case _: Exception => attempts += 1; Thread.sleep(500) }
      }
      assert(conn != null, "could not connect to the thrift endpoint")
      try {
        val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM range(5)")
        assert(rs.next() && rs.getLong(1) === 5L)
      } finally conn.close()
    } finally server.stop()
    assert(yarnKeys(spark.sessionState.newHadoopConf()) === 0)
    assert(yarnKeys(spark.sparkContext.hadoopConfiguration) === 0)
  }

  test("facade snapshotIdAt reads the log with no job and resolves like the V2 surfaces") {
    val wh = TestSpark.tempDir("graft-asof")
    val cat = new LakeCatalog(spark, wh)
    (0 until 3).foreach(i => Ingest.run(spark, cat, PriceSource.fixtures, i.toLong, ts(i)))
    spark.conf.set("spark.sql.catalog.graft_asof", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_asof.warehouse", wh)
    val path = cat.tablePath(Ingest.RawTable)
    val logged = cat.snapshots(Ingest.RawTable).collect()
      .map(r => r.getAs[Long]("snapshot_id"))
    val commits = LakeMeta.resolve(wh, Ingest.RawTable).history
    assert(logged.toSeq === commits.map(_.snapshotId) && commits.size === 3)
    commits.foreach { e =>
      val inst = java.time.Instant.parse(e.committedAt)
      // the commit's own instant, and that instant as Spark holds it
      // (microseconds), both address the commit itself
      Seq(inst, inst.truncatedTo(java.time.temporal.ChronoUnit.MICROS)).foreach { at =>
        var sid = 0L
        assert(jobsOf { sid = cat.snapshotIdAt(Ingest.RawTable, at) } === 0)
        assert(sid === e.snapshotId)
        val rows = 3L * sid
        assert(cat.tableAsOf(Ingest.RawTable, sid).count() === rows)
        assert(spark.read.format("graft").option("as-of-timestamp", at.toString)
          .load(path).count() === rows)
        assert(spark.sql(s"SELECT * FROM graft_asof.${Ingest.RawTable} " +
          s"TIMESTAMP AS OF '$at'").count() === rows)
      }
    }
    val before = java.time.Instant.parse("2000-01-01T00:00:00Z")
    val facade = intercept[IllegalArgumentException](cat.snapshotIdAt(Ingest.RawTable, before))
    val v2 = intercept[IllegalArgumentException](spark.read.format("graft")
      .option("as-of-timestamp", before.toString).load(path))
    assert(facade.getMessage === v2.getMessage)
  }
}
