package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.pipeline._

/** Catalog semantics beyond PipelineSpec: SQL-text model parity,
  * snapshot time travel, and hidden-partition pruning via the
  * registered optimizer rule. */
class LakeCatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def ts(day: Int, h: Int): Timestamp =
    Timestamp.valueOf(f"2026-08-$day%02d $h%02d:00:00")

  private def freshPipeline() = new Pipeline(spark, TestSpark.tempDir("graft-lake"))

  test("reference model SQL text produces exactly the DataFrame transforms") {
    val p = freshPipeline()
    p.runOnce(Some(ts(10, 1))); p.runOnce(Some(ts(11, 2)))
    val (stgSql, fctSql) = Transform.runSql(spark, p.catalog)
    assert(stgSql.columns.toSeq === p.catalog.table(Transform.StgTable).columns.toSeq)
    assert(stgSql.collect().toSet === p.catalog.table(Transform.StgTable).collect().toSet)
    assert(fctSql.collect().toSet === p.catalog.table(Transform.FctTable).collect().toSet)
  }

  test("tableAsOf reads the table as of an earlier snapshot") {
    val p = freshPipeline()
    p.runOnce(Some(ts(10, 1))); p.runOnce(Some(ts(10, 2))); p.runOnce(Some(ts(10, 3)))
    val cat = p.catalog
    assert(cat.table(Ingest.RawTable).count() === 9L)
    assert(cat.tableAsOf(Ingest.RawTable, 1L).count() === 3L)
    assert(cat.tableAsOf(Ingest.RawTable, 2L).count() === 6L)
    assert(cat.tableAsOf(Ingest.RawTable, 3L).count() === 9L)
    // snapshot-1 rows are exactly the first batch
    val t1 = cat.tableAsOf(Ingest.RawTable, 1L)
    assert(TestSpark.collectSet[Timestamp](t1.select("extracted_at"), "extracted_at")
      === Set(ts(10, 1)))
    // logical schema identical to the live table (no partition leakage)
    assert(t1.columns.toSeq === cat.table(Ingest.RawTable).columns.toSeq)
  }

  test("tableAsOf prunes later commits at the scan") {
    val p = freshPipeline()
    (1 to 3).foreach(h => p.runOnce(Some(ts(10, h))))
    val plan = p.catalog.tableAsOf(Ingest.RawTable, 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("commit"), s"commit filter missing in:\n$plan")
  }

  test("timestamp predicates prune hidden day partitions (optimizer rule)") {
    val p = freshPipeline()
    p.runOnce(Some(ts(10, 1))); p.runOnce(Some(ts(11, 1))); p.runOnce(Some(ts(12, 1)))
    val q = p.catalog.table(Ingest.RawTable)
      .filter(col("extracted_at") >= ts(11, 0) && col("extracted_at") < ts(12, 0))
    assert(q.count() === 3L) // correctness unchanged
    val plan = q.queryExecution.executedPlan.toString
    // the injected partition bounds must reach the scan's PartitionFilters
    assert(plan.contains("graft_days_extracted_at"),
      s"hidden-partition pruning missing in:\n$plan")
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.listFiles(s.partitionFilters, s.dataFilters).map(_.files.size).sum
      }.sum
    val all = p.catalog.table(Ingest.RawTable)
      .queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.listFiles(s.partitionFilters, s.dataFilters).map(_.files.size).sum
      }.sum
    assert(scanned < all, s"expected fewer files scanned ($scanned) than total ($all)")
  }

  test("mergeInto upserts by key: matched rows replaced, new keys appended") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-merge"))
    cat.createNamespace("raw")
    cat.createOrReplace("raw.dim",
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "name", "score"))
    cat.mergeInto("raw.dim",
      Seq((2L, "b2", 25.0), (4L, "d", 40.0)).toDF("id", "name", "score"),
      keys = Seq("id"))
    val got = cat.table("raw.dim").as[(Long, String, Double)].collect().toSet
    assert(got === Set((1L, "a", 10.0), (2L, "b2", 25.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
    // one replace snapshot per merge on top of the initial CTAS
    val snaps = cat.snapshots("raw.dim").collect()
    assert(snaps.length === 2)
    assert(snaps.forall(_.getAs[String]("operation") == "replace"))
    assert(snaps.last.getAs[Long]("added_records") === 4L)
  }

  test("pruning rule never fires on user tables with unrelated date columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, to_date}
    // A user table where `p_date`-style column names coexist with an
    // unrelated TimestampType column: the rewrite must not inject any
    // partition conjunct (the graft_days_ naming contract is absent),
    // so no row can be silently dropped.
    val df = Seq(
      ("2026-08-10 05:00:00", "2026-01-01"),
      ("2026-08-11 05:00:00", "2026-02-02")
    ).toDF("ts_s", "date_s")
      .select($"ts_s".cast("timestamp").as("extracted_at"),
        to_date($"date_s").as("p_date"))
    val filtered = df.filter($"extracted_at" >= lit("2026-08-09").cast("timestamp"))
    assert(filtered.count() === 2L)
    // and a graft_days_ column whose suffix names no timestamp column
    // is likewise left alone
    val odd = Seq(("2026-08-10 05:00:00", "2026-01-01")).toDF("ts_s", "date_s")
      .select($"ts_s".cast("timestamp").as("extracted_at"),
        to_date($"date_s").as("graft_days_missing"))
    assert(odd.filter($"extracted_at" >= lit("2026-08-09").cast("timestamp"))
      .count() === 1L)
  }

  test("schema evolution: an appended batch may add a column; old commits read NULL") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-evo"))
    cat.createNamespace("raw")
    cat.append("raw.t", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    cat.append("raw.t", Seq((3L, "c", 9.5)).toDF("id", "name", "score"))
    val t = cat.table("raw.t")
    assert(t.columns.sorted.toSeq === Seq("id", "name", "score"))
    val byId = t.collect().map(r => r.getAs[Long]("id") ->
      Option(r.getAs[java.lang.Double]("score")).map(_.doubleValue)).toMap
    assert(byId(1L) === None && byId(2L) === None && byId(3L) === Some(9.5))
    // time travel before the evolution sees only the original columns' data
    assert(cat.tableAsOf("raw.t", 1L).count() === 2L)
  }

  test("compact folds all commits into one; pre-rewrite time travel is refused") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-compact"))
    cat.createNamespace("raw")
    (1 to 3).foreach(i => cat.append("raw.t", Seq((i.toLong, s"v$i")).toDF("id", "name")))
    cat.compact("raw.t")
    assert(cat.table("raw.t").count() === 3L)
    assert(cat.table("raw.t").select("id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    // one rewrite snapshot on top of the three appends
    val snaps = cat.snapshots("raw.t").collect()
    assert(snaps.length === 4)
    assert(snaps.last.getAs[String]("operation") === "rewrite")
    assert(snaps.last.getAs[Long]("added_records") === 3L)
    // the rewrite snapshot is readable; earlier ones are gone
    assert(cat.tableAsOf("raw.t", 4L).count() === 3L)
    intercept[IllegalArgumentException](cat.tableAsOf("raw.t", 2L))
    intercept[IllegalArgumentException](cat.tableSince("raw.t", 1L))
    // appends continue normally after a compaction
    cat.append("raw.t", Seq((4L, "v4")).toDF("id", "name"))
    assert(cat.table("raw.t").count() === 4L)
    assert(cat.tableSince("raw.t", 4L).count() === 1L)
  }

  test("writeAuditPublish: clean audit publishes a snapshot, dirty audit leaves no trace") {
    val s = spark
    import s.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-wap"))
    cat.createNamespace("raw")
    val checks = Seq(Checks.notNull("name"), Checks.nonNegative("id"))

    val ok = cat.writeAuditPublish("raw.t",
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), checks, Seq("id"))
    assert(ok === Right(1L))
    assert(cat.table("raw.t").count() === 2L)
    val snaps = cat.snapshots("raw.t").collect()
    assert(snaps.length === 1 &&
      snaps.head.getAs[String]("operation") === "append_wap")

    // dirty batch: negative id AND duplicate key — audit must block it
    val bad = cat.writeAuditPublish("raw.t",
      Seq((-3L, "c"), (4L, "d"), (4L, "e")).toDF("id", "name"), checks, Seq("id"))
    assert(bad.isLeft)
    val failed = bad.left.toOption.get.collect()
      .filter(!_.getAs[Boolean]("passed"))
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("n_violations"))
      .toMap
    assert(failed === Map("non_negative_id" -> 1L, "unique_id" -> 1L))
    // table byte-identical: same rows, same snapshot count
    assert(cat.table("raw.t").count() === 2L)
    assert(cat.snapshots("raw.t").count() === 1L)
    assert(cat.currentSnapshotId("raw.t") === 1L)

    // a following clean publish lands as snapshot 2
    assert(cat.writeAuditPublish("raw.t",
      Seq((5L, "f")).toDF("id", "name"), checks, Seq("id")) === Right(2L))
    assert(cat.table("raw.t").count() === 3L)
  }

  test("deleteWhere on an append table rewrites only the commits holding matches") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-del"))
    cat.createNamespace("raw")
    // commit 1 holds the target user; commits 2 and 3 do not
    cat.append("raw.u", Seq((1L, "alice"), (2L, "bob")).toDF("uid", "name"))
    cat.append("raw.u", Seq((3L, "carol")).toDF("uid", "name"))
    cat.append("raw.u", Seq((4L, "dave")).toDF("uid", "name"))
    val tableDir = {
      // warehouse/<ns>/<table>
      val w = cat.table("raw.u").inputFiles.head
      new java.io.File(w.stripPrefix("file:")).getParentFile.getParentFile
    }
    val untouched = new java.io.File(tableDir, "commit=2")
    val before = untouched.listFiles().map(f => f.getName -> f.lastModified()).toMap

    val n = cat.deleteWhere("raw.u", col("uid") === 1L)
    assert(n === 1L)
    assert(TestSpark.collectSet[String](cat.table("raw.u").select("name"), "name")
      === Set("bob", "carol", "dave"))
    // commit 2's files are byte-identical (not rewritten)
    val after = untouched.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after === before)
    // the delete logged a rewrite snapshot, raising the time-travel floor:
    // the purged row is unreadable through tableAsOf too
    val snaps = cat.snapshots("raw.u").collect()
    assert(snaps.last.getAs[String]("operation") === "rewrite")
    intercept[IllegalArgumentException](cat.tableAsOf("raw.u", 1L))
    // no-match delete is a no-op: no snapshot, nothing rewritten
    val snapCount = cat.snapshots("raw.u").count()
    assert(cat.deleteWhere("raw.u", col("uid") === 999L) === 0L)
    assert(cat.snapshots("raw.u").count() === snapCount)
  }

  test("files metadata: one row per live data file, footer counts conserve") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-files"))
    cat.createNamespace("raw")
    cat.append("raw.f", Seq((1L, ts(10, 1)), (2L, ts(11, 2))).toDF("id", "extracted_at"),
      partitionTs = Some("extracted_at"))
    cat.append("raw.f", Seq((3L, ts(10, 3))).toDF("id", "extracted_at"),
      partitionTs = Some("extracted_at"))
    val fs = cat.files("raw.f").collect()
    assert(fs.nonEmpty)
    assert(fs.forall(_.getAs[Long]("file_size_bytes") > 0L))
    assert(fs.forall(r => r.getAs[String]("partition_day") != null))
    assert(fs.map(_.getAs[Long]("commit")).toSet === Set(1L, 2L))
    // footer record counts conserve the table's row count, data unread
    assert(fs.map(_.getAs[Long]("record_count")).sum === cat.table("raw.f").count())
    // per commit, footer counts and the snapshot log's added_records agree
    val perCommit = fs.groupBy(_.getAs[Long]("commit"))
      .map { case (c, rs) => c -> rs.map(_.getAs[Long]("record_count")).sum }
    assert(perCommit === Map(1L -> 2L, 2L -> 1L))
    assert(cat.snapshots("raw.f").collect().map(_.getAs[Long]("added_records")).toSeq
      === Seq(2L, 1L))
    // hidden/protocol dirs are invisible to the files listing
    assert(fs.forall(r => !r.getAs[String]("file_path").contains("/.")))
  }

  test("deleteWhere crash points: every protocol state recovers with no lost rows") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-del-crash"))
    cat.createNamespace("raw")
    cat.append("raw.c", Seq((1L, "alice"), (2L, "bob")).toDF("uid", "name"))
    cat.append("raw.c", Seq((3L, "carol")).toDF("uid", "name"))
    val tableDir = new java.io.File(cat.table("raw.c").inputFiles.head
      .stripPrefix("file:")).getParentFile.getParentFile
    def names() = TestSpark.collectSet[String](
      cat.table("raw.c").select("name"), "name")
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach(f =>
        Files.copy(f.toPath, Paths.get(dst.toString, f.getName)))
    }
    val commit1 = new java.io.File(tableDir, "commit=1")

    // crash mid-tmp-write: commit dir untouched, partial tmp dropped
    val tmp1 = new java.io.File(tableDir, ".delete_tmp_1")
    tmp1.mkdirs()
    Files.write(Paths.get(tmp1.toString, "part-junk.parquet"), Array[Byte](1))
    cat.recoverDeletes("raw.c")
    assert(!tmp1.exists() && names() === Set("alice", "bob", "carol"))

    // crash after promote, before purge: retired copy left behind
    val old1 = new java.io.File(tableDir, ".delete_old_1")
    cp(commit1, old1)
    cat.recoverDeletes("raw.c")
    assert(!old1.exists() && names() === Set("alice", "bob", "carol"))

    // crash between retire and promote: commit dir absent, complete tmp
    // holds the kept rows — recovery must promote it (the state the old
    // delete-then-move ordering lost entirely)
    spark.read.parquet(commit1.toString).filter(col("uid") =!= 1L)
      .write.mode("overwrite").parquet(tmp1.toString)
    // retire exactly as deleteWhere would
    val retired = Files.move(commit1.toPath, old1.toPath)
    assert(!commit1.exists() && retired.toFile.exists())
    // a read here would silently drop commit 1's rows: refused, naming
    // the recovery, exactly as the V2 surfaces refuse it
    val refused = intercept[IllegalStateException](cat.table("raw.c"))
    assert(refused.getMessage.contains("recoverDeletes"), refused.getMessage)
    cat.recoverDeletes("raw.c")
    assert(commit1.exists() && !old1.exists() && !tmp1.exists())
    assert(names() === Set("bob", "carol"))

    // and a live deleteWhere on the recovered table still works end-to-end
    assert(cat.deleteWhere("raw.c", col("uid") === 3L) === 1L)
    assert(names() === Set("bob"))
  }

  test("partitions metadata and expireSnapshots fence") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-meta"))
    cat.createNamespace("raw")
    cat.append("raw.t", Seq((1L, ts(10, 1)), (2L, ts(10, 2)), (3L, ts(11, 1)))
      .toDF("id", "extracted_at"), partitionTs = Some("extracted_at"))
    cat.append("raw.t", Seq((4L, ts(11, 5)))
      .toDF("id", "extracted_at"), partitionTs = Some("extracted_at"))
    // per (commit, day) physical partition record counts
    val parts = cat.partitions("raw.t").collect()
      .map(r => (r.get(r.fieldIndex("commit")).toString.toLong,
        r.getAs[java.sql.Date]("graft_days_extracted_at").toString,
        r.getAs[Long]("record_count"))).toSet
    assert(parts === Set((1L, "2026-08-10", 2L), (1L, "2026-08-11", 1L),
      (2L, "2026-08-11", 1L)))
    // expire fences time travel below the given snapshot, data intact
    assert(cat.tableAsOf("raw.t", 1L).count() === 3L)
    assert(cat.expireSnapshots("raw.t", 2L) === 2L)
    intercept[IllegalArgumentException](cat.tableAsOf("raw.t", 1L))
    assert(cat.tableAsOf("raw.t", 2L).count() === 4L)
    assert(cat.table("raw.t").count() === 4L)
    // appends continue; the log records the expire entry
    cat.append("raw.t", Seq((5L, ts(12, 1)))
      .toDF("id", "extracted_at"), partitionTs = Some("extracted_at"))
    assert(cat.table("raw.t").count() === 5L)
    val ops = cat.snapshots("raw.t").collect().map(_.getAs[String]("operation"))
    assert(ops.count(_ == "expire") === 1)
    // expiring below the current floor is a no-op
    assert(cat.expireSnapshots("raw.t", 1L) === 2L)
  }

  test("snapshot tags: named references read through time travel") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-tags"))
    cat.createNamespace("raw")
    cat.append("raw.t", Seq((1L, "a")).toDF("id", "name"))
    cat.append("raw.t", Seq((2L, "b")).toDF("id", "name"))
    cat.tagSnapshot("raw.t", "train-v1", 1L)
    cat.append("raw.t", Seq((3L, "c")).toDF("id", "name"))
    assert(cat.tableAtTag("raw.t", "train-v1").count() === 1L)
    assert(cat.tags("raw.t") === Map("train-v1" -> 1L))
    intercept[IllegalArgumentException](cat.tableAtTag("raw.t", "nope"))
    intercept[IllegalArgumentException](cat.tagSnapshot("raw.t", "future", 9L))
    // a fence wins over a tag: expired snapshots make their tags
    // unreadable (tags are names, not retention)
    cat.expireSnapshots("raw.t", 2L)
    intercept[IllegalArgumentException](cat.tableAtTag("raw.t", "train-v1"))
  }

  test("diffSnapshots reports added rows and never straddles a purge") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-diff"))
    cat.createNamespace("raw")
    cat.append("raw.t", Seq((1L, "a")).toDF("id", "name"))
    cat.append("raw.t", Seq((2L, "b"), (3L, "c")).toDF("id", "name"))
    cat.append("raw.t", Seq((4L, "d")).toDF("id", "name"))
    val d13 = cat.diffSnapshots("raw.t", 1L, 3L).collect()
    assert(d13.count(_.getAs[String]("change") == "added") === 3)
    assert(!d13.exists(_.getAs[String]("change") == "removed"))
    assert(d13.map(_.getAs[Long]("id")).sorted.toSeq === Seq(2L, 3L, 4L))
    // symmetric direction
    val d31 = cat.diffSnapshots("raw.t", 3L, 1L).collect()
    assert(d31.count(_.getAs[String]("change") == "removed") === 3)
    // a purge raises the floor: diffs reaching before it are refused,
    // so deleted rows can never be reconstructed from a diff
    cat.deleteWhere("raw.t", col("id") === 2L)
    intercept[IllegalArgumentException](cat.diffSnapshots("raw.t", 3L, 4L))
    assert(cat.diffSnapshots("raw.t", 4L, 4L).count() === 0L)
  }

  test("deleteWhere on a CTAS table swaps in the filtered state") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-del-ctas"))
    cat.createNamespace("mart")
    cat.createOrReplace("mart.m",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"))
    assert(cat.deleteWhere("mart.m", col("v") >= 20.0) === 2L)
    assert(TestSpark.collectSet[Long](cat.table("mart.m").select("k"), "k")
      === Set(1L))
  }

  test("deleteWhere keeps rows whose predicate evaluates to NULL") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-del-null"))
    cat.createNamespace("raw")
    // name is NULL for id 2: `name = 'a'` is NULL there — three-valued
    // logic must treat that as KEEP (a row deleted by neither side of
    // a naive p / !p split would silently vanish)
    cat.append("raw.n", Seq((1L, "a"), (2L, null.asInstanceOf[String]),
      (3L, "b")).toDF("id", "name"))
    assert(cat.deleteWhere("raw.n", col("name") === "a") === 1L)
    assert(TestSpark.collectSet[Long](cat.table("raw.n").select("id"), "id")
      === Set(2L, 3L))
  }

  test("upsert replaces matched keys, inserts the rest, keeps partitioning") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-upsert"))
    cat.createNamespace("raw")
    cat.append("raw.u", Seq((1L, "a", ts(10, 1)), (2L, "b", ts(10, 2)))
      .toDF("id", "v", "extracted_at"), partitionTs = Some("extracted_at"))
    // batch: update id 2, insert id 3
    val (replaced, inserted) = cat.upsert("raw.u",
      Seq((2L, "B", ts(11, 1)), (3L, "c", ts(11, 2)))
        .toDF("id", "v", "extracted_at"), Seq("id"))
    assert(replaced === 1L && inserted === 2L)
    val got = cat.table("raw.u").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // the merged commit kept the hidden day partitioning
    assert(cat.files("raw.u").collect()
      .forall(_.getAs[String]("partition_day") != null))
    // snapshot log: append + rewrite + append
    assert(cat.snapshots("raw.u").filter(col("operation") === "rewrite")
      .count() === 1L)
    // composite key path: (id, v) — no match, pure insert
    val (r2, i2) = cat.upsert("raw.u",
      Seq((2L, "x", ts(12, 1))).toDF("id", "v", "extracted_at"),
      Seq("id", "v"))
    assert(r2 === 0L && i2 === 1L)
    assert(cat.table("raw.u").count() === 4L)
  }

  test("rollbackTo drops newer commits, keeps history, and is idempotent") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-rb"))
    cat.createNamespace("raw")
    (1 to 3).foreach { i =>
      cat.append("raw.r", Seq((i.toLong, s"v$i")).toDF("id", "payload"))
    }
    assert(cat.table("raw.r").count() === 3L)
    // simulate a crashed earlier rollback: a leftover retired dir must
    // be invisible to readers and swept on the next rollback
    val junk = java.nio.file.Paths.get(
      cat.dataPath("raw.r"), ".rollback_old_junk")
    java.nio.file.Files.createDirectories(junk)
    assert(cat.rollbackTo("raw.r", 2L) === 1L)
    assert(!java.nio.file.Files.exists(junk))
    assert(TestSpark.collectSet[Long](cat.table("raw.r").select("id"), "id")
      === Set(1L, 2L))
    // history at or before the target is intact
    assert(TestSpark.collectSet[Long](
      cat.tableAsOf("raw.r", 1L).select("id"), "id") === Set(1L))
    // later ids resolve to the target state
    assert(cat.tableAsOf("raw.r", 3L).count() === 2L)
    // the log records the rollback; re-running removes nothing
    assert(cat.snapshots("raw.r").filter(col("operation") === "rollback")
      .count() === 1L)
    assert(cat.rollbackTo("raw.r", 2L) === 0L)
    // appends after a rollback keep working and get fresh ids
    cat.append("raw.r", Seq((9L, "v9")).toDF("id", "payload"))
    assert(cat.table("raw.r").count() === 3L)
  }

  test("compactionPlan packs within partitions, conserves files and records") {
    import spark.implicits._
    val cat = new LakeCatalog(spark, TestSpark.tempDir("graft-compact"))
    cat.createNamespace("raw")
    // two day-partitions; 3 commits of 2 rows each into day 10, one
    // commit of 2 rows into day 11
    (1 to 3).foreach { i =>
      cat.append("raw.c", Seq((i.toLong, ts(10, i)), (i + 10L, ts(10, i)))
        .toDF("id", "extracted_at"), partitionTs = Some("extracted_at"))
    }
    cat.append("raw.c", Seq((99L, ts(11, 1)), (98L, ts(11, 1)))
      .toDF("id", "extracted_at"), partitionTs = Some("extracted_at"))
    val plan = cat.compactionPlan("raw.c", targetRecords = 4L).collect()
    // never merges across partitions: each plan row has one partition
    val byDay = plan.groupBy(_.getAs[String]("partition_day"))
    assert(byDay.keySet.size === 2)
    // replicate the packing from the raw file listing (appends may
    // split a batch into multiple task files — derive, don't assume)
    val want = cat.files("raw.c").collect()
      .map(r => (r.getAs[String]("partition_day"), r.getAs[Long]("commit"),
        r.getAs[String]("file_path"), r.getAs[Long]("record_count")))
      .toSeq
      .groupBy(_._1).toSeq.flatMap { case (day, fs) =>
        var cum = 0L
        fs.sortBy(f => (f._2, f._3)).map { f =>
          val bin = cum / 4L; cum += f._4; (day, bin, f._4)
        }
      }
      .groupBy(t => (t._1, t._2)).toSeq
      .map { case ((day, bin), fs) =>
        (day, bin, fs.size.toLong, fs.map(_._3).sum) }
      .toSet
    val got = plan.map(r => (r.getAs[String]("partition_day"),
      r.getAs[Long]("bin"), r.getAs[Long]("n_files"),
      r.getAs[Long]("total_records"))).toSet
    assert(got === want)
    // conservation: plan totals equal the files listing
    assert(plan.map(_.getAs[Long]("n_files")).sum ===
      cat.files("raw.c").count())
    assert(plan.map(_.getAs[Long]("total_records")).sum ===
      cat.table("raw.c").count())
    assert(plan.forall(_.getAs[Long]("total_bytes") > 0L))
  }

  test("cloneTable: zero-copy (hard-linked) clone with diverging " +
    "histories — writes and rollbacks on one side never move the other") {
    import spark.implicits._
    val cat = new graft.pipeline.LakeCatalog(spark,
      TestSpark.tempDir("graft-clone"))
    cat.createNamespace("raw")
    cat.append("raw.src", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    cat.append("raw.src", Seq((3L, "c")).toDF("id", "v"))
    val linked = cat.cloneTable("raw.src", "raw.dst")
    assert(linked > 0L)
    // identical content + identical history immediately after clone
    assert(cat.table("raw.dst").as[(Long, String)].collect().toSet ===
      cat.table("raw.src").as[(Long, String)].collect().toSet)
    assert(cat.currentSnapshotId("raw.dst") ===
      cat.currentSnapshotId("raw.src"))
    // zero-copy: a data file in the clone shares its inode with the src
    val srcFile = java.nio.file.Files.walk(
        java.nio.file.Paths.get(cat.dataPath("raw.src")))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    val rel = java.nio.file.Paths.get(cat.dataPath("raw.src"))
      .relativize(srcFile)
    val dstFile = java.nio.file.Paths.get(cat.dataPath("raw.dst"))
      .resolve(rel)
    assert(java.nio.file.Files.isSameFile(srcFile, dstFile) ||
      java.nio.file.Files.getAttribute(srcFile, "unix:ino") ==
        java.nio.file.Files.getAttribute(dstFile, "unix:ino"))
    // divergence: append to the clone only
    cat.append("raw.dst", Seq((4L, "d")).toDF("id", "v"))
    assert(cat.table("raw.dst").count() === 4L)
    assert(cat.table("raw.src").count() === 3L) // source untouched
    // rollback the CLONE to snapshot 1 — the shared inode keeps the
    // source's copy of commit 2 alive
    cat.rollbackTo("raw.dst", 1L)
    assert(cat.table("raw.dst").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    assert(cat.table("raw.src").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // re-clone is idempotent: dst is rebuilt from the source state
    cat.cloneTable("raw.src", "raw.dst")
    assert(cat.table("raw.dst").count() === 3L)
  }

  test("every log-writing operation writes the fixed line format, and each line round-trips") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val wh = TestSpark.tempDir("graft-log-golden")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("raw")
    cat.append("raw.g", Seq((1L, "a"), (2L, "b")).toDF("uid", "name"))
    assert(cat.appendExactlyOnce("raw.g", Seq((3L, "c")).toDF("uid", "name"), batchId = 7L))
    assert(cat.writeAuditPublish("raw.g", Seq((4L, "d")).toDF("uid", "name"), Nil) === Right(3L))
    cat.append("raw.g", Seq((5L, "e")).toDF("uid", "name"))
    assert(cat.rollbackTo("raw.g", 3L) === 1L)
    assert(cat.expireSnapshots("raw.g", 2L) === 2L)
    assert(cat.deleteWhere("raw.g", col("uid") === 1L) === 1L)
    cat.compact("raw.g")
    cat.createOrReplace("raw.r", Seq((1L, "x"), (2L, "y")).toDF("id", "s"))
    cat.overwritePartitions("raw.p", Seq((1L, "d1"), (2L, "d2")).toDF("n", "day"), "day")
    def lines(name: String) = Files.readAllLines(Paths.get(cat.dataPath(name),
      LakeMeta.MetaDirName, LakeMeta.SnapshotLogName)).asScala.toSeq
    val got = Seq("raw.g", "raw.r", "raw.p").flatMap(lines)
    // each line round-trips through the one parser, byte for byte
    got.foreach(l => assert(LakeMeta.LogEntry.parse(l).line === l + "\n", l))
    got.foreach(l => java.time.Instant.parse(LakeMeta.LogEntry.parse(l).committedAt))
    val at = """"committed_at":"[^"]+"""".r
    assert(got.map(at.replaceAllIn(_, "\"committed_at\":\"T\"")) === Seq(
      """{"committed_at":"T","snapshot_id":1,"operation":"append","added_records":2}""",
      """{"committed_at":"T","snapshot_id":2,"operation":"append","added_records":1,"batch_id":7}""",
      """{"committed_at":"T","snapshot_id":3,"operation":"append_wap","added_records":1}""",
      """{"committed_at":"T","snapshot_id":4,"operation":"append","added_records":1}""",
      """{"committed_at":"T","snapshot_id":5,"operation":"rollback","added_records":-1}""",
      """{"committed_at":"T","snapshot_id":6,"operation":"expire","added_records":0,"fence":2}""",
      """{"committed_at":"T","snapshot_id":7,"operation":"rewrite","added_records":1}""",
      """{"committed_at":"T","snapshot_id":8,"operation":"rewrite","added_records":3}""",
      """{"committed_at":"T","snapshot_id":1,"operation":"replace","added_records":2}""",
      """{"committed_at":"T","snapshot_id":1,"operation":"overwrite_partitions","added_records":2}"""))
    assert(TestSpark.collectSet[Long](cat.table("raw.g").select("uid"), "uid") === Set(2L, 3L, 4L))
  }
}
