package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** DataSourceV2 path mount (`spark.read.format("graft")`) over a
  * LakeCatalog warehouse written by a SEPARATE session in a forked
  * JVM — the external-reader seam the round-8 verdict asked for.
  * Asserts: hidden-column-free schema, snapshot-id / tag time travel
  * (path-level commit pruning), facade parity, CTAS reads, filter
  * pushdown reaching the parquet scan, and loud errors for invalid
  * option combinations. */
class GraftLakeSourceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Warehouse built once by LakeWriteProbe in its own JVM+session. */
  private lazy val wh: String = {
    val dir = TestSpark.tempDir("graft-v2-wh")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val classes =
      new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val cmd = (Seq("java", "-Xmx3g", "-cp",
      s"/opt/spark/jars/*:$classes") ++ addOpens ++
      Seq("graft.pipeline.LakeWriteProbe", dir))
    val outFile = java.io.File.createTempFile("graft-lwprobe", ".log")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(outFile)
    val proc = pb.start()
    val done = proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
    def out = new String(
      java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
    if (!done) proc.destroyForcibly()
    assert(done, s"writer probe timed out; output:\n${out.takeRight(3000)}")
    assert(proc.exitValue() == 0 && out.contains("LAKE_WRITE_OK"),
      s"writer probe failed (exit ${proc.exitValue()}); " +
        s"output:\n${out.takeRight(3000)}")
    dir
  }

  private def mount(path: String) = spark.read.format("graft").load(path)

  test("full read: logical schema (hidden columns dropped), all commits") {
    val df = mount(s"$wh/probe/t")
    assert(df.columns.toSeq === Seq("id", "name", "extracted_at"))
    val rows = df.collect().map(r => r.getAs[Long]("id")).sorted
    assert(rows.toSeq === Seq(1L, 2L, 3L))
  }

  test("snapshot-id prunes later commits at path level; tag resolves") {
    val asOf2 = spark.read.format("graft").option("snapshot-id", 2L)
      .load(s"$wh/probe/t")
    assert(asOf2.collect().map(_.getAs[Long]("id")).sorted.toSeq
      === Seq(1L, 2L))
    // commit=3 must not even appear in the scan's root paths
    val scanned = asOf2.queryExecution.executedPlan.toString
    assert(!scanned.contains("commit=3"))
    val tagged = spark.read.format("graft").option("tag", "v2")
      .load(s"$wh/probe/t")
    assert(tagged.collect().map(_.getAs[Long]("id")).sorted.toSeq
      === Seq(1L, 2L))
  }

  test("facade parity: V2 mount equals LakeCatalog.table / tableAsOf") {
    val cat = new graft.pipeline.LakeCatalog(spark, wh)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[java.sql.Timestamp]("extracted_at"))
    assert(mount(s"$wh/probe/t").collect().map(key).toSet
      === cat.table("probe.t").collect().map(key).toSet)
    assert(spark.read.format("graft").option("snapshot-id", 2L)
      .load(s"$wh/probe/t").collect().map(key).toSet
      === cat.tableAsOf("probe.t", 2L).collect().map(key).toSet)
  }

  test("CTAS table reads; snapshot-id on it fails loudly") {
    val mart = mount(s"$wh/probe/mart")
    assert(mart.columns.toSeq === Seq("n"))
    assert(mart.count() === 5L)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("snapshot-id", 1L)
        .load(s"$wh/probe/mart").collect()
    }
    assert(e.getMessage.contains("no commit history"))
  }

  test("snapshot-id and tag together are rejected") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("snapshot-id", 1L)
        .option("tag", "v2").load(s"$wh/probe/t")
    }
    assert(e.getMessage.contains("not both"))
  }

  test("as-of-timestamp resolves against the snapshot log " +
      "(ISO and epoch-millis forms)") {
    val log = java.nio.file.Files.readAllLines(
      graft.pipeline.LakeMeta.resolve(wh, "probe.t").logPath)
    val line2 = log.get(1) // snapshot 2's commit record
    val ts2 = """"committed_at":"([^"]+)"""".r
      .findFirstMatchIn(line2).get.group(1)
    def ids(opt: String) = spark.read.format("graft")
      .option("as-of-timestamp", opt).load(s"$wh/probe/t")
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(ids(ts2) === Seq(1L, 2L))
    // epoch-millis truncates the log's nanosecond commit times, so the
    // exact-commit millisecond falls BEFORE the commit — step 1 ms past
    assert(ids(java.time.Instant.parse(ts2).plusMillis(1)
      .toEpochMilli.toString) === Seq(1L, 2L))
    // a timestamp before the first commit fails loudly
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("as-of-timestamp", "2000-01-01T00:00:00Z")
        .load(s"$wh/probe/t")
    }
    assert(e.getMessage.contains("no snapshot committed"))
    // combining time-travel options is rejected
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("as-of-timestamp", ts2)
        .option("tag", "v2").load(s"$wh/probe/t")
    }
    assert(e2.getMessage.contains("at most one"))
  }

  test("aggregate pushdown reaches the parquet footers through the mount") {
    val conf = spark.conf
    val before = conf.get("spark.sql.parquet.aggregatePushdown", "false")
    conf.set("spark.sql.parquet.aggregatePushdown", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = mount(s"$wh/probe/mart")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)]"),
        s"expected COUNT(*) served from footers:\n$plan")
    } finally {
      conf.set("spark.sql.parquet.aggregatePushdown", before)
      conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("data filters push down to the delegated parquet scan") {
    val plan = mount(s"$wh/probe/t").filter(col("id") === 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,2"),
      s"expected id filter pushed to parquet scan:\n$plan")
  }
}
