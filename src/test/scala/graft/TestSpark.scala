package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Shared test SparkSession + in-memory→parquet fixture plumbing.
  *
  * Operators read named parquet tables from a directory (the testdata
  * contract), so specs materialize small crafted fixtures into a temp
  * dir and run the REAL operator path — scan, pushdown and all.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    // through Sessions.getOrCreate: the suite runs on the engine's
    // driver-side listing and YARN-free Hadoop conf
    val s = Sessions.getOrCreate(SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // See Bench.scala: artifact isolation makes every codegen compile
      // pay RPC classloader probes; single-JVM test runs don't need it.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // static conf: the thrift endpoint serves the owning session's
      // temp views only in singleSession mode (see GraftThriftServer)
      .config("spark.sql.hive.thriftServer.singleSession", "true"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Real driver-generated testdata (smallest sf) for integration-style
    * specs; fixtures below for semantics specs. */
  val sfDir = "/root/testdata/sf0.001"

  /** The ONE thrift endpoint port for the whole test JVM: Hive's
    * execution-client conf is cached per JVM, so every suite that
    * starts SqlEndpoint must reuse the same port (GraftThriftServer
    * fails fast on a mismatch). */
  val endpointPort = 10123

  // deleted at JVM exit — test fixtures are read lazily for the whole
  // suite run, so an eager per-test delete would be unsafe. The hook
  // also sweeps `<dir>_v<n>` SIBLINGS: MatViewRewrite's refresh writes
  // versioned generations beside the root (the temp name's random
  // suffix makes the prefix match unambiguous).
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        def rm(root: java.nio.file.Path): Unit = {
          val st = Files.walk(root)
          try st.iterator().asScala.toSeq.reverse
            .foreach(p => Files.deleteIfExists(p))
          finally st.close()
        }
        val name = dir.getFileName.toString
        val sib = Files.list(dir.getParent)
        try sib.iterator().asScala.toList
          .filter(_.getFileName.toString.startsWith(name + "_v"))
          .foreach(rm)
        finally sib.close()
        rm(dir)
      } catch { case _: Throwable => () }))
    dir.toString
  }

  /** Write a documents.parquet fixture into a fresh dir; returns dir. */
  def documentsFixture(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("graft-docs")
    val s = spark
    import s.implicits._
    rows.map { case (id, text, lang, source) => (id, text, lang, source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Write an embeddings.parquet fixture (float arrays) into a fresh dir. */
  def embeddingsFixture(rows: Seq[(Long, Array[Float], Int)]): String = {
    val dir = tempDir("graft-embs")
    val s = spark
    import s.implicits._
    rows.map { case (id, v, label) => (id, v.toSeq, label) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** Write an events.parquet fixture. `ts` is epoch NANOS (long) to
    * mirror the driver testdata's TIMESTAMP(NANOS) physical type, which
    * graft.Tables.events converts (see Tables.scala). */
  def eventsFixture(rows: Seq[(Long, Long, String, java.lang.Double, Long)]): String = {
    val dir = tempDir("graft-events")
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("ts", LongType)))
    val data = rows.map { case (e, u, t, v, ts) =>
      org.apache.spark.sql.Row(e, u, t, v, ts)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  def collectSet[T](df: DataFrame, col: String): Set[T] =
    df.select(col).collect().toSeq.map(_.get(0).asInstanceOf[T]).toSet

  /** Write an orders.parquet fixture: (custkey, orderdate "yyyy-MM-dd")
    * per order; the other TPC-H columns are filled deterministically. */
  def ordersFixture(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft-orders")
    val s = spark
    import s.implicits._
    rows.zipWithIndex.map { case ((ck, d), i) =>
      (i.toLong + 1, ck, "O", 100.0,
        java.sql.Timestamp.valueOf(d + " 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }
}
