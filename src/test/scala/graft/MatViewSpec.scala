package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.MatView

/** Transparent materialized-view substitution: the SAME user query
  * must produce the SAME rows while the optimized plan reads the
  * summary parquet instead of the fact table — and must be left
  * alone whenever derivability fails. */
class MatViewSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  private val base = s"$dir/lineitem.parquet"

  private def withMv(test: String => Unit): Unit = {
    val mvPath = TestSpark.tempDir("graft-mv")
    MatView.build(spark, base, mvPath,
      keys = Seq("l_returnflag", "l_linestatus"),
      measures = Seq("l_quantity", "l_extendedprice"))
    try test(mvPath) finally MatView.clear()
  }

  private def readsMv(df: DataFrame, mvPath: String): Boolean =
    df.queryExecution.executedPlan.toString.contains(mvPath) ||
      df.inputFiles.exists(_.contains(new java.io.File(mvPath).getName))

  private def rollup(): DataFrame =
    spark.read.parquet(base)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))

  test("coarser rollup is served by the MV with identical results") {
    val expected = rollup().collect().toSet // registry empty: fact scan
    withMv { mvPath =>
      val q = rollup()
      assert(readsMv(q, mvPath), "plan should read the MV parquet")
      assert(q.collect().toSet === expected)
    }
  }

  test("a grain-key filter commutes and still hits the MV") {
    withMv { mvPath =>
      val q = spark.read.parquet(base)
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"))
      assert(readsMv(q, mvPath))
      MatView.clear()
      val expected = spark.read.parquet(base)
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows")).collect().toSet
      assert(q.collect().toSet === expected)
    }
  }

  test("AVG is served from the SUM/COUNT pair the MV stores") {
    withMv { mvPath =>
      val avgQ = spark.read.parquet(base).groupBy(col("l_returnflag"))
        .agg(avg(col("l_quantity")).as("a"))
      assert(readsMv(avgQ, mvPath), "double AVG should derive from the MV")
      val got = avgQ.collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      MatView.clear()
      val want = spark.read.parquet(base).groupBy(col("l_returnflag"))
        .agg(avg(col("l_quantity")).as("a")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got.keySet === want.keySet)
      // sum-of-partials vs row-order accumulation: equal to fp noise
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9) }
    }
  }

  test("non-derivable queries are left untouched") {
    withMv { mvPath =>
      // a DECIMAL AVG must NOT rewrite (sum-then-divide precision
      // contract differs from double division) — exercised via cast
      val avgDecQ = spark.read.parquet(base)
        .select(col("l_returnflag"), col("l_quantity"))
        .groupBy(col("l_returnflag"))
        .agg(avg(col("l_quantity").cast("decimal(12,2)")).as("a"))
      assert(!readsMv(avgDecQ, mvPath))
      // measure-column filter cannot be replayed on the summary
      val filtQ = spark.read.parquet(base)
        .filter(col("l_quantity") > 10)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(!readsMv(filtQ, mvPath))
      // grouping outside the grain
      val keyQ = spark.read.parquet(base)
        .groupBy(col("l_partkey")).agg(sum(col("l_quantity")).as("s"))
      assert(!readsMv(keyQ, mvPath))
      // distinct aggregate
      val dQ = spark.read.parquet(base).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd"))
      assert(!readsMv(dQ, mvPath))
    }
  }

  test("the registry gate shape (rounded aggregates) is served by the MV") {
    import graft.functions.Rounding.round4eps
    withMv { mvPath =>
      // the gates read through Tables.read; the rewrite matches on the
      // relation's root path, so a schema-given read must hit it too
      Seq(spark.read.parquet(base), Tables.read(spark, base)).foreach { src =>
        val q = src
          .groupBy(col("l_returnflag"))
          .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
            count(lit(1)).as("n_rows"),
            round4eps(sum(col("l_extendedprice"))).as("sum_price"))
          .orderBy(col("l_returnflag"))
        assert(readsMv(q, mvPath), "rounded-aggregate shape should still rewrite")
        assert(q.collect().nonEmpty)
      }
    }
  }

  test("incremental refresh equals a full rebuild over base plus delta") {
    import spark.implicits._
    val basePath = TestSpark.tempDir("graft-mv-inc-base")
    val mvPath = TestSpark.tempDir("graft-mv-inc")
    val part1 = Seq(("A", 1.0), ("A", 2.0), ("B", 5.0)).toDF("k", "v")
    val part2 = Seq(("A", 10.0), ("C", 7.0)).toDF("k", "v")
    part1.write.mode("overwrite").parquet(basePath)
    MatView.build(spark, basePath, mvPath, keys = Seq("k"), measures = Seq("v"))
    try {
      MatView.refresh(spark, basePath, part2)
      // refresh advances to a versioned dir; read the CURRENT one
      val currentPath = MatView.registered(basePath).head.mvPath
      assert(currentPath != mvPath && currentPath.startsWith(mvPath))
      val got = spark.read.parquet(currentPath).collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("mv_count"),
          r.getAs[Double]("mv_sum_v"), r.getAs[Double]("mv_min_v"),
          r.getAs[Double]("mv_max_v"))).toSet
      assert(got === Set(
        ("A", 3L, 13.0, 1.0, 10.0),
        ("B", 1L, 5.0, 5.0, 5.0),
        ("C", 1L, 7.0, 7.0, 7.0)))
      // the refreshed MV still serves queries (re-registration intact):
      // rows now reflect base ∪ delta, i.e. the MV's contract after append
      val q = spark.read.parquet(basePath)
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      assert(readsMv(q, mvPath))
    } finally MatView.clear()
  }

  test("with two grains registered, the coarsest serving MV wins") {
    val fine = TestSpark.tempDir("graft-mv-fine")
    val coarse = TestSpark.tempDir("graft-mv-coarse")
    MatView.build(spark, base, fine,
      keys = Seq("l_returnflag", "l_linestatus"), measures = Seq("l_quantity"))
    MatView.build(spark, base, coarse,
      keys = Seq("l_returnflag"), measures = Seq("l_quantity"))
    try {
      // flag-only rollup: both could serve; the 1-key summary must win
      val q1 = spark.read.parquet(base).groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("s"))
      assert(readsMv(q1, coarse) && !readsMv(q1, fine))
      // two-key rollup: only the fine grain covers it
      val q2 = spark.read.parquet(base)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("s"))
      assert(readsMv(q2, fine) && !readsMv(q2, coarse))
      // both serve correct numbers
      MatView.clear()
      val want1 = spark.read.parquet(base).groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("s")).collect().toSet
      assert(q1.collect().toSet === want1)
    } finally MatView.clear()
  }

  test("rebuilding an MV after base appends recomputes from the base") {
    import spark.implicits._
    val basePath = TestSpark.tempDir("graft-mv-rebuild-base")
    val mvPath = TestSpark.tempDir("graft-mv-rebuild")
    Seq(("A", 1.0)).toDF("k", "v").write.mode("overwrite").parquet(basePath)
    MatView.build(spark, basePath, mvPath, keys = Seq("k"), measures = Seq("v"))
    try {
      // base grows OUTSIDE the registry's knowledge; a rebuild is the
      // documented freshness path and must NOT be served by its own
      // stale summary (the self-hijack this regression pins)
      Seq(("A", 10.0), ("C", 7.0)).toDF("k", "v")
        .write.mode("append").parquet(basePath)
      MatView.build(spark, basePath, mvPath, keys = Seq("k"), measures = Seq("v"))
      val got = spark.read.parquet(mvPath).collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("mv_count"),
          r.getAs[Double]("mv_sum_v"))).toSet
      assert(got === Set(("A", 2L, 11.0), ("C", 1L, 7.0)))
    } finally MatView.clear()
  }

  test("refresh rejects a delta missing MV columns") {
    import spark.implicits._
    val basePath = TestSpark.tempDir("graft-mv-guard-base")
    val mvPath = TestSpark.tempDir("graft-mv-guard")
    Seq(("A", 1.0)).toDF("k", "v").write.mode("overwrite").parquet(basePath)
    MatView.build(spark, basePath, mvPath, keys = Seq("k"), measures = Seq("v"))
    try {
      val bad = Seq(("A", 9L)).toDF("k", "other")
      val e = intercept[IllegalArgumentException](
        MatView.refresh(spark, basePath, bad))
      assert(e.getMessage.contains("missing MV columns"))
    } finally MatView.clear()
  }

  test("a stream keeps the MV fresh via foreachBatch refresh") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val basePath = TestSpark.tempDir("graft-mv-stream-base")
    val ckpt = TestSpark.tempDir("graft-mv-stream-ckpt")
    val mvPath = TestSpark.tempDir("graft-mv-stream")
    Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(basePath)
    MatView.build(spark, basePath, mvPath, keys = Seq("k"), measures = Seq("v"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val q = graft.streaming.EventStreams.streamToMatView(
      mem.toDF.toDF("k", "v"), basePath, ckpt)
    try {
      mem.addData(("A", 3.0), ("C", 4.0))
      q.processAllAvailable()
      mem.addData(("C", 10.0))
      q.processAllAvailable()
      // the MV must equal a from-scratch summary over the appended base
      val want = spark.read.parquet(basePath).groupBy(col("k"))
        .agg(count(lit(1)).as("mv_count"), sum(col("v")).as("mv_sum_v"),
          min(col("v")).as("mv_min_v"), max(col("v")).as("mv_max_v"))
        .collect().map(_.toSeq).toSet
      val got = spark.read.parquet(MatView.registered(basePath).head.mvPath)
        .select(col("k"), col("mv_count"), col("mv_sum_v"),
          col("mv_min_v"), col("mv_max_v"))
        .collect().map(_.toSeq).toSet
      assert(got === want)
      // and the rewrite still serves base queries from the fresh MV
      val served = spark.read.parquet(basePath)
        .groupBy(col("k")).agg(sum(col("v")).as("s"))
      assert(readsMv(served, mvPath))
    } finally { q.stop(); MatView.clear() }
  }

  test("foldBatch is exactly-once under crash-replay at every boundary") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val basePath = TestSpark.tempDir("graft-mv-fence-base")
    val mvPath = TestSpark.tempDir("graft-mv-fence")
    Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(basePath)
    MatView.build(spark, basePath, mvPath, keys = Seq("k"), measures = Seq("v"))
    try {
      val batch = Seq(("A", 3.0), ("C", 4.0)).toDF("k", "v")
      def baseCount = spark.read.parquet(basePath).count()
      def mvState = spark.read.parquet(MatView.registered(basePath).head.mvPath)
        .select("k", "mv_count", "mv_sum_v").collect().map(_.toSeq).toSet
      val want = Set(Seq("A", 2L, 4.0), Seq("B", 1L, 2.0), Seq("C", 1L, 4.0))
      // crash AFTER append, BEFORE refresh: the replay re-appends under
      // the same deterministic names (no duplicate rows) and folds once
      EventStreams.appendIdempotent(basePath, batch, 7L)
      EventStreams.foldBatch(basePath, batch, 7L)
      assert(baseCount === 4L, "replayed append must overwrite, not duplicate")
      assert(mvState === want)
      // crash AFTER refresh, BEFORE marker: the refresh tag matches, so
      // the replay must skip the fold (this was the double-apply window)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(basePath, "_graft_last_folded"))
      EventStreams.foldBatch(basePath, batch, 7L)
      assert(baseCount === 4L && mvState === want, "summary double-folded")
      // fully applied: the marker short-circuits the whole batch
      EventStreams.foldBatch(basePath, batch, 7L)
      assert(baseCount === 4L && mvState === want)
      // and a genuinely new batch still folds
      EventStreams.foldBatch(basePath, Seq(("B", 8.0)).toDF("k", "v"), 8L)
      assert(baseCount === 5L)
      assert(mvState === Set(
        Seq("A", 2L, 4.0), Seq("B", 2L, 10.0), Seq("C", 1L, 4.0)))
    } finally MatView.clear()
  }

  test("a non-deterministic filter blocks the rewrite") {
    withMv { mvPath =>
      // rand() references no columns, so the old key-reference check
      // passed vacuously — yet replaying it on the MV would sample
      // GROUPS where the user asked to sample ROWS
      val q = spark.read.parquet(base)
        .filter(rand(42) < 0.5)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(!readsMv(q, mvPath))
    }
  }

  test("SUM over a decimal measure keeps the original result type") {
    import spark.implicits._
    val basePath = TestSpark.tempDir("graft-mv-dec-base")
    val mvPath = TestSpark.tempDir("graft-mv-dec")
    Seq(("A", "1.50"), ("A", "2.25"), ("B", "7.00")).toDF("k", "raw")
      .select(col("k"), col("raw").cast("decimal(10,2)").as("v"))
      .write.mode("overwrite").parquet(basePath)
    def q() = spark.read.parquet(basePath)
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    val wantType = q().schema("s").dataType // Decimal(20,2): widened ONCE
    val wantRows = q().collect().map(_.toSeq).toSet
    MatView.build(spark, basePath, mvPath, keys = Seq("k"), measures = Seq("v"))
    try {
      val served = q()
      assert(readsMv(served, mvPath))
      assert(served.schema("s").dataType === wantType,
        "re-aggregated SUM must cast back to the original widened type")
      assert(served.collect().map(_.toSeq).toSet === wantRows)
    } finally MatView.clear()
  }

  test("global COUNT over an empty base serves 0, not NULL") {
    import spark.implicits._
    val basePath = TestSpark.tempDir("graft-mv-empty-base")
    val mvPath = TestSpark.tempDir("graft-mv-empty")
    Seq.empty[(String, Double)].toDF("k", "v")
      .write.mode("overwrite").parquet(basePath)
    MatView.build(spark, basePath, mvPath, keys = Seq("k"), measures = Seq("v"))
    try {
      val q = spark.read.parquet(basePath).agg(count(lit(1)).as("n"))
      assert(readsMv(q, mvPath))
      val row = q.collect()
      assert(row.length === 1 && !row(0).isNullAt(0) && row(0).getLong(0) === 0L)
    } finally MatView.clear()
  }

  test("downstream operators survive the swap (ExprIds preserved)") {
    withMv { mvPath =>
      val q = rollup()
        .select(col("l_returnflag"), (col("sum_qty") * 2).as("dbl"))
        .orderBy(col("l_returnflag"))
      assert(readsMv(q, mvPath))
      val rows = q.collect()
      assert(rows.nonEmpty)
      MatView.clear()
      val want = rollup()
        .select(col("l_returnflag"), (col("sum_qty") * 2).as("dbl"))
        .orderBy(col("l_returnflag")).collect()
      assert(rows.toSeq === want.toSeq)
    }
  }
}
