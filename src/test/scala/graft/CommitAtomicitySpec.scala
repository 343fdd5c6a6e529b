package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.pipeline.{LakeCatalog, LakeMeta, TableCommit}
import java.nio.file.{Files, Paths}

/** Crash-injection + concurrency receipts for the GENERATION-POINTER
  * commit protocol (r14 verdict Next #1): the pointer-file replace is
  * the commit point, so a crash at ANY protocol step needs no
  * roll-forward — the table serves fully-old before the pointer swap
  * and fully-new after, with matching sidecars, never a mix and never
  * a missing table. Readers resolve the pointer once and never cross
  * a rename window (hammer test below); a captured DataFrame keeps
  * its generation for the retention grace (snapshot isolation).
  * Covers the facade CTAS and the V2 staged CoR, the legacy-layout
  * migration, and the exactly-once streaming append.
  */
class CommitAtomicitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): (LakeCatalog, String) = {
    val wh = TestSpark.tempDir("graft-atomic")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("raw")
    cat.createOrReplace("raw.t",
      Seq((1L, "old"), (2L, "old")).toDF("id", "gen"))
    (cat, wh)
  }

  /** The visible generation must be self-consistent: readable data,
    * sidecar schema matching the read columns, snapshot log parseable.
    * Returns the distinct `gen` values actually served. */
  private def generation(cat: LakeCatalog, wh: String): Set[String] = {
    val df = cat.table("raw.t")
    val sidecarCols = LakeMeta.resolve(wh, "raw.t").schema.get.fieldNames.toSet
    assert(df.columns.toSet.subsetOf(sidecarCols),
      s"read columns ${df.columns.toSeq} not covered by sidecar $sidecarCols")
    assert(cat.snapshots("raw.t").count() >= 1L, "snapshot log unreadable")
    df.select("gen").distinct().as[String].collect().toSet
  }

  private def genDirs(wh: String): List[String] = {
    val st = Files.list(Paths.get(wh, "raw", "t"))
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(LakeMeta.GenPrefix)).toList
    } finally st.close()
  }

  private def crashAt(point: String)(body: => Unit): Unit = {
    TableCommit.crashHook = p =>
      if (p == point) throw new RuntimeException(s"injected crash at $p")
    try {
      val e = intercept[RuntimeException](body)
      assert(e.getMessage.contains("injected crash") ||
        Option(e.getCause).exists(_.getMessage.contains("injected crash")))
    } finally TableCommit.crashHook = _ => ()
  }

  /** Run `body` with an (effectively) zero retention grace so GC fires
    * immediately; always restores the default. */
  private def zeroGrace[T](body: => T): T = {
    val old = TableCommit.retireGraceMs
    TableCommit.retireGraceMs = -1000L
    try body finally TableCommit.retireGraceMs = old
  }

  test("facade CTAS crash BEFORE publish: fully-old, staged residue " +
      "stays outside the container") {
    val (cat, wh) = freshTable()
    crashAt("pre-publish") {
      cat.createOrReplace("raw.t", Seq((9L, "new")).toDF("id", "gen"))
    }
    assert(generation(cat, wh) === Set("old"))
    assert(cat.table("raw.t").count() === 2L)
    assert(genDirs(wh).size === 1, "no orphan generation expected")
  }

  test("facade CTAS crash AFTER publish, BEFORE the pointer swap: " +
      "fully-old — the commit point was never reached; the orphan " +
      "generation is invisible and a clean retry publishes") {
    val (cat, wh) = freshTable()
    crashAt("post-publish") {
      cat.createOrReplace("raw.t", Seq((9L, "new")).toDF("id", "gen"))
    }
    assert(generation(cat, wh) === Set("old"))
    assert(cat.table("raw.t").count() === 2L)
    assert(genDirs(wh).size === 2, "orphan generation should be retained")
    // retry commits; zero grace GCs the orphan + the retired old gen
    zeroGrace {
      cat.createOrReplace("raw.t", Seq((9L, "new")).toDF("id", "gen"))
    }
    assert(generation(cat, wh) === Set("new"))
    assert(cat.table("raw.t").count() === 1L)
    assert(genDirs(wh).size === 1, s"GC left residue: ${genDirs(wh)}")
  }

  test("facade CTAS crash AFTER the pointer swap: fully-NEW — the " +
      "commit is durable even though retirement/GC never ran") {
    val (cat, wh) = freshTable()
    crashAt("post-pointer") {
      cat.createOrReplace("raw.t", Seq((9L, "new")).toDF("id", "gen"))
    }
    assert(generation(cat, wh) === Set("new"))
    assert(cat.table("raw.t").count() === 1L)
    // the old generation is retained (unmarked) but invisible;
    // a later commit under zero grace sweeps it
    assert(genDirs(wh).size === 2)
    zeroGrace {
      cat.createOrReplace("raw.t", Seq((7L, "newer")).toDF("id", "gen"))
    }
    assert(generation(cat, wh) === Set("newer"))
    assert(genDirs(wh).size === 1, s"GC left residue: ${genDirs(wh)}")
  }

  test("facade CTAS crash AFTER GC: fully-new, clean container") {
    val (cat, wh) = freshTable()
    zeroGrace {
      crashAt("post-gc") {
        cat.createOrReplace("raw.t", Seq((9L, "new")).toDF("id", "gen"))
      }
    }
    assert(generation(cat, wh) === Set("new"))
    assert(genDirs(wh).size === 1)
  }

  test("V2 staged CREATE OR REPLACE crash mid-publish: invariant holds " +
      "(fully-old or fully-new, matching sidecars), no recovery needed") {
    val (cat, wh) = freshTable()
    val catName = "graft_atomic_" + java.lang.Integer.toHexString(wh.hashCode)
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    TableCommit.crashHook = p =>
      if (p == "post-publish")
        throw new RuntimeException("injected crash at " + p)
    try {
      intercept[Exception] {
        spark.sql(s"CREATE OR REPLACE TABLE $catName.raw.t AS " +
          "SELECT id * 10 AS id, 'new' AS gen FROM VALUES (1L), (2L) v(id)")
      }
    } finally TableCommit.crashHook = _ => ()
    val served = spark.table(s"$catName.raw.t")
    val gens = served.select("gen").distinct().as[String].collect().toSet
    assert(gens === Set("old") || gens === Set("new"), s"torn table: $gens")
    val n = served.count()
    assert((gens == Set("old") && n == 2L) || (gens == Set("new") && n == 2L),
      s"generation/count mismatch: $gens with $n rows")
  }

  test("a reader arriving MID-COMMIT (generation published, pointer " +
      "not yet swapped) serves the complete OLD generation without " +
      "blocking — there is no rename window on the read path") {
    val (cat, wh) = freshTable()
    val windowOpen = new java.util.concurrent.CountDownLatch(1)
    TableCommit.crashHook = p =>
      if (p == "post-publish") { windowOpen.countDown(); Thread.sleep(1200) }
    val writer = new Thread(() =>
      cat.createOrReplace("raw.t", Seq((9L, "new")).toDF("id", "gen")))
    var readerResult: Either[Throwable, (Long, Set[String])] = null
    val reader = new Thread(() => {
      readerResult =
        try {
          windowOpen.await() // the new generation is in the container now
          val df = cat.table("raw.t") // pointer still names the old gen
          Right((df.count(),
            df.select("gen").distinct().as[String].collect().toSet))
        } catch { case t: Throwable => Left(t) }
    })
    try {
      writer.start(); reader.start()
      writer.join(30000); reader.join(30000)
    } finally TableCommit.crashHook = _ => ()
    assert(readerResult != null && readerResult.isRight,
      s"mid-commit read failed: $readerResult")
    val (n, gens) = readerResult.toOption.get
    assert(n === 2L && gens === Set("old"),
      s"mid-commit read saw a torn/partial state: n=$n gens=$gens")
    // and after the writer finishes, the new generation serves
    assert(generation(cat, wh) === Set("new"))
  }

  test("HAMMER: a reader loop concurrent with a stream of commits " +
      "never observes a torn or missing table (r14 Next #1 receipt)") {
    val (cat, wh) = freshTable()
    val rounds = 10
    // generation g_i carries exactly i+1 rows — any mix of two
    // generations (or a partial scan) breaks the (tag, count) pairing
    val expected = (0 until rounds).map(i => s"g_$i" -> (i + 1).toLong).toMap
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var writerErr: Throwable = null
    val writer = new Thread(() => {
      try (0 until rounds).foreach { i =>
        cat.createOrReplace("raw.t",
          (1 to i + 1).map(r => (r.toLong, s"g_$i")).toDF("id", "gen"))
      } catch { case t: Throwable => writerErr = t }
      finally done.set(true)
    })
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var observations = 0
    val reader = new Thread(() => {
      while (!done.get()) {
        try {
          val df = cat.table("raw.t")
          val tags = df.select("gen").distinct().as[String].collect().toSet
          val n = df.count()
          observations += 1
          if (tags.size != 1) bad.add(s"mixed generations: $tags")
          else {
            val t = tags.head
            val want = if (t == "old") 2L else expected.getOrElse(t, -1L)
            if (n != want) bad.add(s"torn scan of $t: $n rows (want $want)")
          }
        } catch { case t: Throwable => bad.add(s"read failed: $t") }
      }
    })
    writer.start(); reader.start()
    writer.join(120000); reader.join(120000)
    assert(writerErr == null, s"writer failed: $writerErr")
    assert(bad.isEmpty, s"torn observations: ${bad.toArray.mkString("; ")}")
    assert(observations > 0, "reader never observed anything")
    assert(generation(cat, wh) === Set(s"g_${rounds - 1}"))
  }

  test("SNAPSHOT ISOLATION: a DataFrame captured before a commit keeps " +
      "serving its own (grace-retained) generation after the commit") {
    val (cat, wh) = freshTable()
    val before = cat.table("raw.t") // resolves the old generation's path
    cat.createOrReplace("raw.t", Seq((9L, "new")).toDF("id", "gen"))
    // the catalog now serves the new generation ...
    assert(generation(cat, wh) === Set("new"))
    // ... while the captured frame still scans the retired one
    assert(before.select("gen").distinct().as[String].collect().toSet
      === Set("old"))
    assert(before.count() === 2L)
  }

  test("sweep GCs aged-out orphaned generations at catalog init — a " +
      "table nobody writes again still converges") {
    val (cat, wh) = freshTable()
    crashAt("post-publish") {
      cat.createOrReplace("raw.t", Seq((9L, "new")).toDF("id", "gen"))
    }
    assert(genDirs(wh).size === 2)
    zeroGrace { TableCommit.sweep(wh) }
    assert(genDirs(wh).size === 1, s"sweep left residue: ${genDirs(wh)}")
    assert(generation(cat, wh) === Set("old"))
  }

  test("LEGACY MIGRATION: a pre-generation flat table dir is readable " +
      "as-is and upgraded in place by the first write; an interrupted " +
      "migration (marker present) resumes idempotently") {
    val wh = TestSpark.tempDir("graft-legacy")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("raw")
    import org.apache.spark.sql.types._
    // hand-build a pre-r15 legacy layout: commit=1 data + _graft_meta
    // sidecars directly in the container, no pointer file
    def legacyTable(name: String): java.nio.file.Path = {
      val c = Paths.get(wh, "raw", name)
      Seq((1L, "legacy"), (2L, "legacy")).toDF("id", "gen")
        .write.parquet(c.resolve("commit=1").toString)
      val meta = c.resolve(LakeMeta.MetaDirName)
      Files.createDirectories(meta)
      Files.write(meta.resolve("schema.json"), StructType(Seq(
        StructField("id", LongType), StructField("gen", StringType),
        StructField(LakeMeta.CommitCol, LongType)))
        .json.getBytes("UTF-8"))
      Files.write(meta.resolve(LakeMeta.SnapshotLogName),
        ("""{"committed_at":"2026-01-01T00:00:00Z","snapshot_id":1,""" +
          """"operation":"append","added_records":2}""" + "\n")
          .getBytes("UTF-8"))
      c
    }
    val container = legacyTable("t")
    // legacy READ fallback: no pointer → container is the data path
    assert(cat.table("raw.t").count() === 2L)
    // first write migrates in place, then appends as commit=2
    cat.append("raw.t", Seq((3L, "fresh")).toDF("id", "gen"))
    assert(Files.exists(container.resolve(LakeMeta.PointerName)))
    assert(TestSpark.collectSet[String](
      cat.table("raw.t").select("gen"), "gen") === Set("legacy", "fresh"))
    assert(cat.table("raw.t").count() === 3L)
    // history survived the migration (sidecars moved with the data)
    assert(cat.snapshots("raw.t").count() === 2L)
    // interrupted-migration resume: plant a marker + half-moved state
    val c2 = legacyTable("u")
    val gname = LakeMeta.GenPrefix + "resume"
    Files.write(c2.resolve("_migrate"), gname.getBytes("UTF-8"))
    Files.createDirectories(c2.resolve(gname))
    cat.append("raw.u", Seq((3L, "fresh")).toDF("id", "gen"))
    assert(!Files.exists(c2.resolve("_migrate")))
    assert(LakeMeta.currentGen(c2) === Some(gname))
    assert(cat.table("raw.u").count() === 3L)
  }

  test("EXACTLY-ONCE append: a replayed batch id is a no-op, and an " +
      "unlogged orphan commit dir (crash between rename and log line) " +
      "is healed by the retry") {
    val wh = TestSpark.tempDir("graft-eos")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("raw")
    assert(cat.appendExactlyOnce("raw.t",
      Seq((1L, "x")).toDF("id", "v"), batchId = 0L))
    // replay of epoch 0: skipped
    assert(!cat.appendExactlyOnce("raw.t",
      Seq((1L, "x")).toDF("id", "v"), batchId = 0L))
    assert(cat.table("raw.t").count() === 1L)
    assert(cat.snapshots("raw.t").count() === 1L)
    // simulate a crash AFTER the commit-dir rename, BEFORE the log
    // line: an orphan commit=2 dir with stale content
    val orphan = Paths.get(cat.dataPath("raw.t"), "commit=2")
    Seq((99L, "stale"), (98L, "stale")).toDF("id", "v")
      .write.parquet(orphan.toString)
    // the log line is the commit point: neither surface serves the orphan
    assert(cat.table("raw.t").count() === 1L)
    assert(spark.read.format("graft").load(cat.tablePath("raw.t")).count() === 1L)
    // the retry for epoch 1 must replace the orphan, not merge with it
    assert(cat.appendExactlyOnce("raw.t",
      Seq((2L, "y")).toDF("id", "v"), batchId = 1L))
    assert(cat.table("raw.t").count() === 2L)
    assert(TestSpark.collectSet[String](
      cat.table("raw.t").select("v"), "v") === Set("x", "y"))
    assert(cat.snapshots("raw.t").count() === 2L)
  }

  test("replace preserves table history: snapshot log accumulates and " +
      "tags survive across CTAS generations — and the committed " +
      "generation carries its OWN history line (folded pre-swap)") {
    val (cat, wh) = freshTable()
    cat.tagSnapshot("raw.t", "v1", 1L)
    cat.createOrReplace("raw.t", Seq((9L, "new")).toDF("id", "gen"))
    val ops = cat.snapshots("raw.t").orderBy(col("snapshot_id"))
      .select("operation").as[String].collect().toSeq
    assert(ops === Seq("replace", "replace"), s"history lost: $ops")
    assert(cat.tags("raw.t") === Map("v1" -> 1L))
    // the CURRENT generation's own meta dir holds the 2-line log —
    // no post-swap append happened outside the committed generation
    val logInGen = Paths.get(cat.dataPath("raw.t"))
      .resolve(LakeMeta.MetaDirName).resolve(LakeMeta.SnapshotLogName)
    assert(Files.exists(logInGen))
    val lines = Files.readAllLines(logInGen)
    assert(lines.size === 2, s"generation log not self-describing: $lines")
  }

  test("generations are invisible to raw container scans (a bypassing " +
      "reader fails loudly instead of reading a torn mix); raw DATA " +
      "PATH scans work; clone copies (not hard-links) the log") {
    val (cat, wh) = freshTable()
    assert(Files.exists(LakeMeta.resolve(wh, "raw.t").logPath))
    // raw scan of the pointer-resolved data path: fine, meta skipped
    val direct = spark.read.parquet(LakeMeta.dataPath(wh, "raw.t"))
    assert(direct.count() === 2L)
    // raw scan of the CONTAINER: no visible data files — loud failure,
    // never a cross-generation mix
    intercept[Exception] {
      spark.read.parquet(LakeMeta.tablePath(wh, "raw.t")).count()
    }
    assert(cat.tableNames === Seq("raw.t"))
    cat.cloneTable("raw.t", "raw.t2")
    // appending to the clone's log must NOT leak into the source's
    cat.createOrReplace("raw.t2", Seq((5L, "clone")).toDF("id", "gen"))
    assert(cat.snapshots("raw.t").count() === 1L)
    assert(cat.snapshots("raw.t2").count() === 2L)
  }
}
