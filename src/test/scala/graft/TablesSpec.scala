package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables`' schema resolver: reads with a recorded schema that equals
  * a fresh inference, starts no Spark job while the files are unchanged,
  * re-resolves on a rewrite, and fails loudly on a type drift. */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  /** Job groups of every job started, in listener-bus order. */
  private val jobGroups = new ConcurrentLinkedQueue[String]()
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
  })

  /** Jobs `body` starts, counted by job group. A marker job started
    * after it is awaited first: the bus is FIFO, so every earlier job
    * start has been delivered by then. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, marker) = (s"tables-${System.nanoTime}", s"marker-${System.nanoTime}")
    sc.setJobGroup(group, "measured")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(marker, "marker")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(30)
    while (!jobGroups.contains(marker) && System.nanoTime < deadline) Thread.sleep(10)
    assert(jobGroups.contains(marker), "marker job never reached the listener")
    jobGroups.toArray.count(_ == group)
  }

  test("recorded schemas equal a fresh inference for all ten tables") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach { n =>
      assert(Tables.load(spark, dir, n).schema ===
        spark.read.parquet(s"$dir/$n.parquet").schema, n)
    }
    assert(Tables.events(spark, dir).schema("ts").dataType === TimestampType)
    assert(Tables.embeddings(spark, dir).schema("embedding").dataType.catalogString
      === "array<float>")
  }

  test("a warm load starts no Spark job") {
    Tables.names.foreach(n => Tables.load(spark, dir, n).schema)
    assert(jobsOf(Tables.names.foreach(n => Tables.load(spark, dir, n).schema)) === 0)
    assert(jobsOf { Tables.events(spark, dir).schema; Tables.embeddings(spark, dir).schema } === 0)
    // control: a cold load of a new table does infer, under this group
    val cold = TestSpark.tempDir("graft-tables-cold")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$cold/t.parquet")
    assert(jobsOf(Tables.load(spark, cold, "t").schema) >= 1)
  }

  test("rewriting a table with an added column re-resolves it") {
    val d = TestSpark.tempDir("graft-tables-add")
    Seq((1L, 2.0)).toDF("id", "amount").write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").columns.toSeq === Seq("id", "amount"))
    Seq((1L, 2.0, "x")).toDF("id", "amount", "note")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val after = Tables.load(spark, d, "t")
    assert(after.schema === spark.read.parquet(s"$d/t.parquet").schema)
    assert(after.as[(Long, Double, String)].collect().toSeq === Seq((1L, 2.0, "x")))
  }

  test("a column whose type changed fails loudly, naming table and column") {
    val d = TestSpark.tempDir("graft-tables-drift")
    Seq((1L, 2.0)).toDF("id", "amount").write.parquet(s"$d/ledger.parquet")
    Tables.load(spark, d, "ledger")
    Seq((1L, "2.0")).toDF("id", "amount")
      .write.mode("overwrite").parquet(s"$d/ledger.parquet")
    val e = intercept[IllegalStateException](Tables.load(spark, d, "ledger"))
    assert(e.getMessage.contains("table ledger"))
    assert(e.getMessage.contains("column amount"))
    assert(e.getMessage.contains("double") && e.getMessage.contains("string"))
  }

  test("the type-mapping confs are part of the key") {
    // an unannotated binary column, written without the Spark schema in
    // the footer (a Spark-written file's footer schema overrides the conf)
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    val d = TestSpark.tempDir("graft-tables-conf")
    val pq = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary payload; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$d/b.parquet"))
      .withType(pq).build()
    try w.write(new SimpleGroupFactory(pq).newGroup()
      .append("id", 1L).append("payload", Binary.fromString("ab")))
    finally w.close()
    val conf = "spark.sql.parquet.binaryAsString"
    assert(Tables.load(spark, d, "b").schema("payload").dataType === BinaryType)
    spark.conf.set(conf, "true")
    try assert(Tables.load(spark, d, "b").schema("payload").dataType === StringType)
    finally spark.conf.unset(conf)
    assert(Tables.load(spark, d, "b").schema("payload").dataType === BinaryType)
  }

  test("four threads loading at once get identical schemas") {
    val d = TestSpark.tempDir("graft-tables-race")
    Seq((1L, 2.0, "x")).toDF("id", "amount", "note").write.parquet(s"$d/t.parquet")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val got = (1 to 4).map(_ => pool.submit(() => Tables.load(spark, d, "t").schema))
        .map(_.get(60, TimeUnit.SECONDS))
      assert(got.distinct.size === 1)
      assert(got.head === spark.read.parquet(s"$d/t.parquet").schema)
    } finally pool.shutdown()
  }
}
