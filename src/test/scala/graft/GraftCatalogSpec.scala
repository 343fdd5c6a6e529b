package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.sources.GraftCatalog` — the V2 TableCatalog plugin — driven
  * the way the reference drives its Iceberg catalog: an EXTERNAL
  * session (forked JVM, CatalogWriteProbe) creates a namespace and a
  * day-partitioned table, appends via `writeTo(...).append()` + SQL
  * INSERT, CTASes a mart, and time-travels — all by multi-part
  * identifier with only the two `spark.sql.catalog.*` configs. This
  * spec then re-opens the SAME warehouse from the in-process session,
  * asserting (a) the facade sees every externally-written commit
  * (snapshots + row parity), (b) catalog reads/writes from THIS
  * session interoperate with them, and (c) the DDL/metadata surface
  * (SHOW, DESCRIBE partitioning, rename, drop, loud failure modes)
  * behaves. */
class GraftCatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Warehouse built once by CatalogWriteProbe in its own JVM+session:
    * raw.bitcoin_prices (4 day-partitioned append commits), raw.mart
    * (catalog CTAS). */
  private lazy val wh: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cat-wh").toString
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
      Seq("graft.pipeline.CatalogWriteProbe", dir))
    val outFile = java.io.File.createTempFile("graft-catprobe", ".log")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(outFile)
    val proc = pb.start()
    val done = proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
    def out = new String(
      java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
    if (!done) proc.destroyForcibly()
    assert(done, s"catalog probe timed out; output:\n${out.takeRight(3000)}")
    assert(proc.exitValue() == 0 && out.contains("CAT_WRITE_OK"),
      s"catalog probe failed (exit ${proc.exitValue()}); " +
        s"output:\n${out.takeRight(3000)}")
    // the probe's own external read-back assertions (count, VERSION AS
    // OF, mart) are encoded in its CAT_ROWS line + require()
    assert(out.contains("CAT_ROWS=4 CAT_V2=2 CAT_MART=2"), out.takeRight(1000))
    dir
  }

  /** This session's mount of the probe's warehouse (unique catalog
    * name — catalog instances are memoized per session, so the name
    * must not collide with other suites' warehouses). */
  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.lakep", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.lakep.warehouse", wh)
    "lakep"
  }

  private def facade = new graft.pipeline.LakeCatalog(spark, wh)

  test("facade sees the externally-committed snapshots and rows") {
    val snaps = facade.snapshots("raw.bitcoin_prices").collect()
    assert(snaps.length === 4)
    assert(snaps.map(_.getAs[String]("operation")).toSet === Set("append"))
    assert(snaps.map(_.getAs[Long]("snapshot_id")).sorted.toSeq
      === Seq(1L, 2L, 3L, 4L))
    assert(facade.table("raw.bitcoin_prices").collect()
      .map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    assert(facade.tableAsOf("raw.bitcoin_prices", 2L).collect()
      .map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L))
  }

  test("identifier reads: spark.table, VERSION AS OF (id and tag), " +
      "TIMESTAMP AS OF") {
    val t = spark.table(s"$cat.raw.bitcoin_prices")
    assert(t.columns.toSeq === Seq("id", "name", "price_usd", "extracted_at"))
    assert(t.count() === 4L)
    assert(spark.sql(
      s"SELECT id FROM $cat.raw.bitcoin_prices VERSION AS OF 3")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    facade.tagSnapshot("raw.bitcoin_prices", "release", 2L)
    assert(spark.sql(
      s"SELECT id FROM $cat.raw.bitcoin_prices VERSION AS OF 'release'")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // TIMESTAMP AS OF at snapshot 3's commit instant (from the log)
    val log = java.nio.file.Files.readAllLines(
      graft.pipeline.LakeMeta.resolve(wh, "raw.bitcoin_prices").logPath)
    val ts3 = """"committed_at":"([^"]+)"""".r
      .findFirstMatchIn(log.get(2)).get.group(1)
    // micros truncate the log's nanosecond commit instant — step 1 ms
    // past so the floor lands on snapshot 3 (the V2-mount spec's rule)
    val lit = java.time.Instant.parse(ts3).plusMillis(1)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace('T', ' ')
    assert(spark.sql(s"SELECT id FROM $cat.raw.bitcoin_prices " +
      s"TIMESTAMP AS OF '$lit'")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("time-travel commit pruning: excluded commit dirs never scanned") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = spark.sql(
        s"SELECT id FROM $cat.raw.bitcoin_prices VERSION AS OF 2")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("commit=3") && !plan.contains("commit=4"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("SHOW NAMESPACES / SHOW TABLES / DESCRIBE partitioning") {
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("raw"))
    val tables = spark.sql(s"SHOW TABLES IN $cat.raw").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(tables === Set("bitcoin_prices", "mart"))
    val desc = spark.sql(s"DESCRIBE TABLE $cat.raw.bitcoin_prices")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(desc.contains(("id", "bigint")))
    // the hidden day partitioning surfaces as its logical transform
    assert(desc.exists { case (c, v) =>
      c.contains("Part 0") && v == "days(extracted_at)" })
    // hidden physical columns never leak into the described schema
    assert(!desc.exists(_._1.startsWith("graft_days_")))
    assert(!desc.exists(_._1 == "commit"))
  }

  test("in-process catalog append interoperates: snapshot 5, then " +
      "INSERT OVERWRITE replaces the mart") {
    import spark.implicits._
    Seq((5L, "row5", 50.0,
      java.sql.Timestamp.valueOf("2026-01-05 00:00:00")))
      .toDF("id", "name", "price_usd", "extracted_at")
      .writeTo(s"$cat.raw.bitcoin_prices").append()
    val snaps = facade.snapshots("raw.bitcoin_prices").collect()
    assert(snaps.map(_.getAs[Long]("snapshot_id")).max === 5L)
    assert(facade.table("raw.bitcoin_prices").count() === 5L)
    // the append landed day-partitioned like every facade commit
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
      graft.pipeline.LakeMeta.dataPath(wh, "raw.bitcoin_prices"),
      "commit=5/graft_days_extracted_at=2026-01-05")))

    spark.sql(s"INSERT OVERWRITE $cat.raw.mart " +
      "SELECT id, price_usd FROM VALUES (9L, 9.0) AS t(id, price_usd)")
    val mart = spark.table(s"$cat.raw.mart").collect()
    assert(mart.length === 1 && mart.head.getLong(0) === 9L)
  }

  test("DDL: duplicate create fails; rename moves data + sidecars; " +
      "drop removes; non-cascade drop of a non-empty namespace fails") {
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.raw.mart (x INT)")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"))
    val before = spark.table(s"$cat.raw.mart").count()
    // RENAME TO takes an identifier WITHIN the same catalog
    spark.sql(s"ALTER TABLE $cat.raw.mart RENAME TO raw.mart2")
    assert(spark.table(s"$cat.raw.mart2").count() === before)
    assert(java.nio.file.Files.exists(
      graft.pipeline.LakeMeta.resolve(wh, "raw.mart2").schemaPath))
    val e2 = intercept[Exception] { spark.sql(s"DROP NAMESPACE $cat.raw") }
    assert(e2.getMessage.contains("SCHEMA_NOT_EMPTY")
      || e2.getMessage.toLowerCase.contains("contains objects"))
    spark.sql(s"DROP TABLE $cat.raw.mart2")
    assert(!spark.catalog.tableExists(s"$cat.raw.mart2"))
    assert(!java.nio.file.Files.exists(
      graft.pipeline.LakeMeta.resolve(wh, "raw.mart2").schemaPath))
  }

  test("catalog CREATE TABLE + first append lands commit=1 with the " +
      "declared day partitioning; empty table reads as 0 rows") {
    spark.sql(s"CREATE TABLE $cat.raw.fresh " +
      "(k BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    assert(spark.table(s"$cat.raw.fresh").count() === 0L)
    import spark.implicits._
    Seq((1L, java.sql.Timestamp.valueOf("2026-02-01 00:00:00")))
      .toDF("k", "ts").writeTo(s"$cat.raw.fresh").append()
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
      graft.pipeline.LakeMeta.dataPath(wh, "raw.fresh"),
      "commit=1/graft_days_ts=2026-02-01")))
    assert(spark.table(s"$cat.raw.fresh").columns.toSeq === Seq("k", "ts"))
    spark.sql(s"DROP TABLE $cat.raw.fresh")
  }

  test("unsupported partition transforms and deep namespaces fail loudly") {
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.raw.badpart " +
        "(k BIGINT, ts TIMESTAMP) PARTITIONED BY (bucket(4, k))")
    }
    assert(e.getMessage.contains("days(ts)"))
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE NAMESPACE $cat.a.b")
    }
    assert(e2.getMessage.contains("single-level"))
  }

  test("crash-state refusal: an unrecovered .delete_tmp_* dir makes " +
      "catalog and path-mount reads fail loudly, not drop rows") {
    val marker = java.nio.file.Paths.get(
      graft.pipeline.LakeMeta.dataPath(wh, "raw.bitcoin_prices"),
      ".delete_tmp_99")
    java.nio.file.Files.createDirectories(marker)
    try {
      val e = intercept[Exception] {
        spark.table(s"$cat.raw.bitcoin_prices").count()
      }
      def root(t: Throwable): Throwable =
        if (t.getCause == null) t else root(t.getCause)
      assert(root(e).getMessage.contains("recoverDeletes"),
        s"expected loud crash-state refusal, got: ${e.getMessage}")
      val e2 = intercept[Exception] {
        spark.read.format("graft").load(s"$wh/raw/bitcoin_prices").count()
      }
      assert(root(e2).getMessage.contains("recoverDeletes"))
    } finally java.nio.file.Files.deleteIfExists(marker)
  }

  test("path mount stays read-only: V2 write through format(\"graft\") " +
      "is rejected") {
    import spark.implicits._
    val df = Seq((6L, "x", 1.0,
      java.sql.Timestamp.valueOf("2026-01-06 00:00:00")))
      .toDF("id", "name", "price_usd", "extracted_at")
    intercept[Exception] {
      df.write.format("graft").mode("append")
        .save(s"$wh/raw/bitcoin_prices")
    }
    // and the table is untouched
    assert(facade.table("raw.bitcoin_prices").count() === 5L)
  }

  test("SQL DELETE routes through the facade's crash-safe rewrite; " +
      "TRUNCATE TABLE empties; untranslatable predicates refuse loudly") {
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.raw.deltest " +
      "(k BIGINT, v STRING, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"v$i",
        java.sql.Timestamp.valueOf(f"2026-03-0$i%d 00:00:00")))
        .toDF("k", "v", "ts").writeTo(s"$cat.raw.deltest").append()
    }
    spark.sql(s"DELETE FROM $cat.raw.deltest WHERE k = 2")
    assert(spark.table(s"$cat.raw.deltest").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    // compound pushable predicate
    spark.sql(s"DELETE FROM $cat.raw.deltest WHERE k > 2 AND v = 'v3'")
    assert(spark.table(s"$cat.raw.deltest").collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
    // NULL-predicate three-valued logic: rows where the predicate is
    // NULL are KEPT (facade deleteWhere semantics through the seam)
    Seq((9L, null.asInstanceOf[String],
      java.sql.Timestamp.valueOf("2026-03-09 00:00:00")))
      .toDF("k", "v", "ts").writeTo(s"$cat.raw.deltest").append()
    spark.sql(s"DELETE FROM $cat.raw.deltest WHERE v = 'nope'")
    assert(spark.table(s"$cat.raw.deltest").count() === 2L)
    // a predicate Spark cannot push as filters is refused, not half-run
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.raw.deltest WHERE length(v) + k > 100")
    }
    assert(e.getMessage.contains("cannot translate expression to source filter"),
      e.getMessage)
    spark.sql(s"TRUNCATE TABLE $cat.raw.deltest")
    assert(spark.table(s"$cat.raw.deltest").count() === 0L)
    spark.sql(s"DROP TABLE $cat.raw.deltest")
  }

  test("CALL procedures: tag_snapshot, expire_snapshots, " +
      "rollback_to_snapshot, compact, recover_deletes — the Iceberg " +
      "maintenance surface over the catalog") {
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.raw.proctest " +
      "(k BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    (1 to 3).foreach { i =>
      Seq((i.toLong, java.sql.Timestamp.valueOf(f"2026-04-0$i%d 00:00:00")))
        .toDF("k", "ts").writeTo(s"$cat.raw.proctest").append()
    }
    // tag + time travel through the tag
    val tagged = spark.sql(
      s"CALL $cat.system.tag_snapshot('raw.proctest', 'v2', 2)").collect()
    assert(tagged.head.getAs[Long]("snapshot_id") === 2L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.raw.proctest " +
      "VERSION AS OF 'v2'").head().getLong(0) === 2L)
    // rollback drops commit 3
    val rb = spark.sql(
      s"CALL $cat.system.rollback_to_snapshot('raw.proctest', 2)")
      .collect().head
    assert(rb.getAs[Long]("rolled_back_to") === 2L)
    assert(rb.getAs[Long]("rows_removed") === 1L)
    assert(spark.table(s"$cat.raw.proctest").count() === 2L)
    // expire fences time travel below the floor
    val ex = spark.sql(
      s"CALL $cat.system.expire_snapshots('raw.proctest', 2)")
      .collect().head
    assert(ex.getAs[Long]("new_floor") === 2L)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.raw.proctest VERSION AS OF 1").collect()
    }
    // compact folds history into one commit; data unchanged
    val cp = spark.sql(s"CALL $cat.system.compact('raw.proctest')")
      .collect().head
    assert(cp.getAs[Long]("snapshot_id") > 2L)
    assert(spark.table(s"$cat.raw.proctest").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // recover_deletes is an idempotent no-op on a healthy table
    assert(spark.sql(s"CALL $cat.system.recover_deletes('raw.proctest')")
      .collect().head.getAs[Boolean]("recovered"))
    // discovery + failure mode
    val cat0 = spark.sessionState.catalogManager.catalog("lakep")
      .asInstanceOf[graft.sources.GraftCatalog]
    assert(cat0.listProcedures(Array("system")).map(_.name()).toSet
      === Set("rollback_to_snapshot", "expire_snapshots", "tag_snapshot",
        "recover_deletes", "compact"))
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.no_such_proc('x')").collect()
    }
    assert(e.getMessage.contains("FAILED_TO_LOAD_ROUTINE")
      || e.getMessage.contains("unknown procedure"), e.getMessage)
    spark.sql(s"DROP TABLE $cat.raw.proctest")
  }

  test("metadata column: commit resolves on explicit reference only " +
      "(SELECT * stays clean) and answers which-snapshot-wrote-this-row") {
    val star = spark.table(s"$cat.raw.bitcoin_prices")
    assert(!star.columns.contains("commit"))
    val byCommit = spark.sql(
      s"SELECT commit, count(*) AS n FROM $cat.raw.bitcoin_prices " +
        "GROUP BY commit ORDER BY commit").collect()
    assert(byCommit.map(_.getLong(0)).toSeq
      === (1L to byCommit.length.toLong))
    assert(byCommit.map(_.getAs[Long]("n")).forall(_ === 1L))
    // rows written by snapshot 2 are exactly batch 2
    val r2 = spark.sql(s"SELECT id FROM $cat.raw.bitcoin_prices " +
      "WHERE commit = 2").collect()
    assert(r2.map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("no-sidecar fallback merges footers like the facade repair path " +
      "(add-column-evolved table surfaces the late column)") {
    val whl = java.nio.file.Files
      .createTempDirectory("graft-cat-evolve").toString
    val f2 = new graft.pipeline.LakeCatalog(spark, whl)
    import spark.implicits._
    f2.createNamespace("ns")
    f2.append("ns.t", Seq((1L, "a")).toDF("id", "name"))
    f2.append("ns.t", Seq((2L, "b", 7.5)).toDF("id", "name", "score"))
    java.nio.file.Files.delete(
      graft.pipeline.LakeMeta.resolve(whl, "ns.t").schemaPath)
    val cols = spark.read.format("graft").load(s"$whl/ns/t").columns.toSeq
    assert(cols.contains("score") && cols.contains("id"),
      s"merged-footer fallback lost columns: $cols")
  }
}
