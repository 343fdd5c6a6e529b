package graftbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, concat_ws}

import graft.pipeline.{Checks, Ingest, LakeCatalog, PriceSource, SqlEndpoint, Transform}

/** pipeline_hourly — the reference DAG. Set-up writes a fixed history
  * of hourly raw commits through `Ingest.run`; each timed op is one
  * tick: extract, staging and mart full refreshes, then the test
  * stage on the mart's grain. */
final class PipelineHourly(h: Harness) {
  private val depth = h.wcfg.path("history_commits").asInt()
  private val rng = new scala.util.Random(h.o.seed)
  // the history always starts at midnight, so every seed lays out the
  // same number of day partitions
  private val start = Instant.parse("2026-01-01T00:00:00Z").plusSeconds(86400L * rng.nextInt(365))
  private val tickOffset = rng.nextInt(100000).toLong
  private var commits = 0

  private val martChecks = Seq(
    Checks.notNull("extraction_date"), Checks.notNull("data_source"),
    Checks.notNull("crypto_symbol"),
    Checks.acceptedValues("data_source", PriceSource.fixtures.map(_.name)),
    Checks.nonNegative("min_price_usd"), Checks.nonNegative("records"))

  def run(): Unit = {
    h.info ++= Seq("start_instant" -> start.toString, "tick_offset" -> tickOffset,
      "history_commits" -> depth)
    h.buildSession()
    val cat = new LakeCatalog(h.spark, h.o.work.resolve("warehouse").toString)
    h.phase("seed_s") {
      (0 until depth).foreach(_ => extract(cat))
    }
    h.phase("warm_s") {
      (1 to 2).foreach(_ => tick(cat, new OpCtx(0, traced = false)))
      h.check(endStateOk(cat), "mart or raw row count wrong after the warm ticks")
    }
    h.timedLoop {
      val t0 = System.nanoTime()
      var i = 0
      while ((System.nanoTime() - t0) / 1e9 < h.o.seconds) {
        h.runOp("tick", traced = i % 2 == 0, capSec = 60)(tick(cat, _))
        i += 1
      }
    }
    if (!endStateOk(cat)) {
      h.check(ok = false, "mart differs from DailyMartSql over raw, or raw rows != 3 x commits")
      // the wrong state cannot be pinned on one tick: every tick fails
      h.ops.indices.foreach(k => h.ops(k) = h.ops(k).copy(failure = Some("wrong end state")))
    }
    h.info ++= LakeWalk(h.o.work.resolve("warehouse"), Ingest.RawTable, 3L * commits)
  }

  private def extract(cat: LakeCatalog): Long = {
    val n = Ingest.run(h.spark, cat, PriceSource.fixtures, tickOffset + commits,
      Timestamp.from(start.plusSeconds(3600L * commits)))
    if (n != 3) throw new IllegalStateException(s"ingest appended $n rows, expected 3")
    commits += 1
    n
  }

  private def tick(cat: LakeCatalog, ctx: OpCtx): Unit = {
    h.layer(ctx, "pipeline.extract")(extract(cat))
    h.layer(ctx, "pipeline.staging") {
      val raw = h.layer(ctx, "lake.read")(cat.table(Ingest.RawTable))
      val stg = Transform.staging(raw)
      h.layer(ctx, "lake.replace")(cat.createOrReplace(Transform.StgTable, stg))
    }
    h.layer(ctx, "pipeline.mart") {
      val stg = h.layer(ctx, "lake.read")(cat.table(Transform.StgTable))
      val mart = Transform.dailyMart(stg)
      h.layer(ctx, "lake.replace")(cat.createOrReplace(Transform.FctTable, mart))
    }
    val bad = h.layer(ctx, "pipeline.test") {
      val mart = h.layer(ctx, "lake.read")(cat.table(Transform.FctTable))
      val grain = concat_ws("|", col("extraction_date").cast("string"),
        col("data_source"), col("crypto_symbol"))
      Checks.report(mart.withColumn("grain", grain), martChecks, Seq("grain"))
        .filter(!col("passed")).collect()
    }
    if (bad.nonEmpty)
      throw new IllegalStateException(s"test stage violations: ${bad.mkString(", ")}")
  }

  /** The mart equals `Transform.DailyMartSql` recomputed over raw, and
    * raw holds exactly 3 rows per commit. */
  private def endStateOk(cat: LakeCatalog): Boolean = {
    val raw = cat.table(Ingest.RawTable)
    raw.createOrReplaceTempView("bitcoin_prices")
    h.spark.sql(Transform.StagingSql).createOrReplaceTempView("stg_bitcoin_prices")
    val want = Fingerprint.ofRows(h.spark.sql(Transform.DailyMartSql).collect())
    val got = Fingerprint.ofRows(cat.table(Transform.FctTable).collect())
    raw.count() == 3L * commits && want == got
  }
}

/** Layout of a lake table as the run leaves it: the current
  * generation's data files, bytes per row and snapshot-log length. */
object LakeWalk {
  def apply(warehouse: Path, table: String, rows: Long): Seq[(String, Any)] = {
    val container = warehouse.resolve(table.replace('.', '/'))
    val pointer = container.resolve("_gen_pointer")
    val data = if (Files.exists(pointer)) container.resolve(Files.readString(pointer).trim)
      else container
    val files = Files.walk(data)
    try {
      val parquet = files.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSeq
      val log = data.resolve("_graft_meta/snapshots.jsonl")
      val bytes = parquet.map(Files.size).sum
      Seq("lake_raw_files" -> parquet.size,
        "lake_bytes_per_row" -> (if (rows > 0) bytes.toDouble / rows else 0.0),
        "lake_snapshot_log_lines" ->
          (if (Files.exists(log)) Files.readAllLines(log).size else 0),
        "lake_raw_rows" -> rows)
    } finally files.close()
  }
}

/** registry_mix — registry queries over the generated star schema, in
  * seeded order, caches swept before each, materialized through the
  * `noop` sink. Timed passes each run the whole list once. */
final class RegistryMix(h: Harness) {
  private val sf = h.wcfg.path("sf").asDouble()
  private val queries = h.wcfg.path("queries").elements().asScala.map(_.asText).toSeq
  private val capSec = 60
  private val expectedPath = h.o.config.resolveSibling("expected/registry_fingerprints.json")

  private def sweep(): Unit = {
    h.spark.catalog.clearCache()
    graft.Caching.sweepPersistentRdds(h.spark)
  }

  def run(): Unit = {
    h.buildSession()
    val dir = h.inputTables(sf)
    h.info("queries") = queries
    val expected: Map[String, String] =
      if (h.o.record) Map.empty
      else new com.fasterxml.jackson.databind.ObjectMapper().readTree(expectedPath.toFile)
        .path("fingerprints").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val warmS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val got = h.phase("warm_s") {
      queries.map { q =>
        sweep()
        val (fp, s) = h.seconds(Fingerprint.ofRows(graft.SparkEntry.queries(q)(h.spark, dir).collect()))
        warmS(q) = s
        q -> fp
      }.toMap
    }
    h.info("warm_query_s") = warmS
    if (h.o.record) {
      val json = Json.obj(Seq("sf" -> sf,
        "fingerprints" -> scala.collection.immutable.ListMap(got.toSeq.sortBy(_._1): _*)))
      Files.write(expectedPath, (json + "\n").getBytes("UTF-8"))
    } else queries.foreach { q =>
      h.check(expected.get(q).contains(got(q)),
        s"$q fingerprint ${got(q)} != recorded ${expected.getOrElse(q, "(none)")}")
    }
    val rng = new scala.util.Random(h.o.seed)
    // the first timed pass still warms the JIT; two passes at least keep
    // a slow machine from measuring that pass alone. Half of every pass
    // is traced, and each query flips between traced and untraced from
    // pass to pass, so both halves see the same warm-up and query mix.
    val minPasses = 2
    h.timedLoop {
      val t0 = System.nanoTime()
      var pass = 0
      while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < h.o.seconds) {
        rng.shuffle(queries.zipWithIndex).foreach { case (q, qi) =>
          sweep()
          h.runOp(q, traced = (qi + pass) % 2 == 0, capSec) { ctx =>
            val df = h.layer(ctx, "operators.build")(graft.SparkEntry.queries(q)(h.spark, dir))
            h.layer(ctx, "operators.exec")(df.write.format("noop").mode("overwrite").save())
          }
        }
        pass += 1
      }
      h.info("passes") = pass
    }
  }
}

/** serve_jdbc — the dbt / dashboard path: a closed loop of JDBC
  * clients against `SqlEndpoint` inside this JVM, over the generated
  * tables and a seeded lake exposed as time-travel views and through
  * the `graft` V2 catalog. */
final class ServeJdbc(h: Harness) {
  private val sf = h.wcfg.path("sf").asDouble()
  private val clients = math.max(1, math.min(h.wcfg.path("clients").asInt(), h.o.cpus))
  private val lakeCommits = h.wcfg.path("lake_commits").asInt()
  private val statements: Seq[(String, String)] = h.wcfg.path("statements").fields().asScala
    .map(e => e.getKey -> e.getValue.asText).toSeq

  def run(): Unit = {
    h.buildSession()
    val dir = h.inputTables(sf)
    val wh = h.o.work.resolve("warehouse").toString
    h.phase("seed_s") {
      h.info("register_s") = h.seconds(graft.Tables.registerAll(h.spark, dir))._2
      val cat = new LakeCatalog(h.spark, wh)
      val base = Instant.parse("2026-01-01T00:00:00Z")
      h.info("lake_ingest_s") = h.seconds((0 until lakeCommits).foreach { i =>
        Ingest.run(h.spark, cat, PriceSource.fixtures, i.toLong,
          Timestamp.from(base.plusSeconds(3600L * i)))
      })._2
      h.info("lake_transform_s") = h.seconds(Transform.run(h.spark, cat))._2
      cat.exposeSql(Ingest.RawTable, Some("bitcoin_prices"))
      cat.exposeSql(Transform.FctTable, Some("fct_bitcoin_daily"))
      cat.snapshots(Ingest.RawTable).createOrReplaceTempView("bitcoin_prices_snapshots")
      h.spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      h.spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      h.info ++= Seq("lake_commits" -> lakeCommits,
        "clients" -> clients, "closed_loop" -> true, "statements" -> statements.map(_._1))
    }
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    def connect() = java.sql.DriverManager.getConnection(
      s"jdbc:hive2://localhost:$port/default", "anonymous", "")
    // the warm pass runs on its own connection, so each client's
    // session sees only the client's marker and then its timed ops
    val (handle, warmConn, conns) = h.phase("endpoint_s") {
      val hd = SqlEndpoint.start(h.spark, port)
      (hd, connect(), (0 until clients).map { c =>
        val conn = connect()
        val st = conn.createStatement()
        st.executeQuery(s"SELECT 'graftbench-client-$c' AS marker").close()
        st.close()
        conn
      })
    }
    try {
      val expected = h.phase("warm_s") {
        statements.map { case (name, sql) =>
          val want = inProcess(sql)
          val got = Fingerprint.ofCells(fetch(warmConn, sql)._2)
          h.check(got == want, s"$name JDBC fingerprint $got != in-process $want")
          name -> want
        }.toMap
      }
      h.timedLoop {
        val deadline = System.nanoTime() + (h.o.seconds * 1e9).toLong
        val threads = conns.zipWithIndex.map { case (conn, c) =>
          val t = new Thread(() => clientLoop(c, conn, expected, deadline), s"graftbench-client-$c")
          t.start()
          t
        }
        threads.foreach(_.join())
      }
    } finally {
      (warmConn +: conns).foreach(c => try c.close() catch { case _: Throwable => () })
      handle.stop()
    }
    h.info ++= LakeWalk(h.o.work.resolve("warehouse"), Ingest.RawTable, 3L * lakeCommits)
  }

  /** In-process fingerprint: temporal columns cast to string by Spark,
    * the same rendering the Thrift server sends to JDBC clients. */
  private def inProcess(sql: String): String = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val df = h.spark.sql(sql)
    val cols = df.schema.fields.indices.map(i => s"c$i")
    val renamed = df.toDF(cols: _*)
    val canon = renamed.select(df.schema.fields.zip(cols).map { case (f, c) =>
      f.dataType match {
        case TimestampType | TimestampNTZType | DateType => col(c).cast("string").as(c)
        case _ => col(c)
      }
    }.toSeq: _*)
    Fingerprint.ofRows(canon.collect())
  }

  /** Execute and fetch every row; returns (execute ms, fetch ms) and
    * the canonical cells (computed after the clock stops). */
  private def fetch(conn: java.sql.Connection, sql: String)
      : ((Double, Double), Seq[Seq[String]]) = {
    val st = conn.createStatement()
    try {
      val t0 = System.nanoTime()
      val rs = st.executeQuery(sql)
      val t1 = System.nanoTime()
      val md = rs.getMetaData
      val n = md.getColumnCount
      val types = (1 to n).map(md.getColumnType)
      val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
      while (rs.next()) {
        val r = new Array[Any](n)
        var i = 0
        while (i < n) {
          r(i) = types(i) match {
            case java.sql.Types.DOUBLE | java.sql.Types.FLOAT | java.sql.Types.REAL =>
              val d = rs.getDouble(i + 1); if (rs.wasNull) null else d
            case java.sql.Types.DECIMAL | java.sql.Types.NUMERIC => rs.getBigDecimal(i + 1)
            case java.sql.Types.BIGINT | java.sql.Types.INTEGER | java.sql.Types.SMALLINT |
                 java.sql.Types.TINYINT =>
              val l = rs.getLong(i + 1); if (rs.wasNull) null else l
            case java.sql.Types.TIMESTAMP =>
              Option(rs.getString(i + 1)).map(_.stripSuffix(".0")).orNull
            case _ => rs.getString(i + 1)
          }
          i += 1
        }
        rows += r
      }
      val t2 = System.nanoTime()
      rs.close()
      (((t1 - t0) / 1e6, (t2 - t1) / 1e6), rows.map(_.toSeq.map(Fingerprint.canon)).toSeq)
    } finally st.close()
  }

  private def clientLoop(c: Int, conn: java.sql.Connection, expected: Map[String, String],
                         deadline: Long): Unit = {
    // draws deal from a seeded shuffle of the whole mix, reshuffled
    // when spent, so every client sends the statements in equal shares
    val rng = new scala.util.Random(h.o.seed * 1000003L + c)
    var deck = List.empty[(String, String)]
    var seq = 0L
    while (System.nanoTime() < deadline) {
      if (deck.isEmpty) deck = rng.shuffle(statements).toList
      val (name, sql) = deck.head
      deck = deck.tail
      val ctx = h.newOp(traced = seq % 2 == 0)
      h.listener.foreach(_.clientOps.put((c, seq), ctx))
      seq += 1
      val start = h.trace.nowMs
      val (times, failure) =
        try {
          val (t, cells) = fetch(conn, sql)
          val fp = Fingerprint.ofCells(cells)
          (t, if (fp == expected(name)) None else Some(s"result $fp != expected ${expected(name)}"))
        } catch { case e: Throwable => ((0.0, 0.0), Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      val latency = times._1 + times._2
      if (ctx.traced) {
        org.apache.spark.GraftBenchBus.drain(h.spark.sparkContext)
        h.trace.add(ctx.rootId, "op", start, start + latency, "", ctx.id, Map("kind" -> name))
        h.trace.add(s"${ctx.rootId}/thrift.execute", "thrift.execute", start,
          start + times._1, ctx.rootId, ctx.id)
        h.trace.add(s"${ctx.rootId}/thrift.fetch", "thrift.fetch", start + times._1,
          start + latency, ctx.rootId, ctx.id)
      }
      failure.foreach(f => System.err.println(s"[graftbench] op ${ctx.id} $name failed: $f"))
      h.synchronized { h.ops += OpRec(ctx.id, name, start, latency, failure, ctx.traced, c) }
    }
  }
}
