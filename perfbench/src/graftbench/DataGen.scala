package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic copy of the engine's testdata star schema
  * (the ten tables `graft.Tables` loads), generated in-process so the
  * benchmark needs nothing outside its own checkout.
  *
  * Schemas, physical types and value domains follow the reference
  * testdata: timestamp columns are written as TIMESTAMP_NTZ (the
  * testdata's un-adjusted micros, which `Tables.events` normalizes),
  * `embedding` is array<float> of 64 unit-norm components, and every
  * table is ONE parquet file with one row group, so scans have the
  * same single-split shape. Row counts scale with `sf` exactly like the
  * testdata (lineitem = 6 M x sf, orders = 1.5 M x sf, ...).
  *
  * Every random draw is `xxhash64` of (row id, draw number, data seed),
  * so the same seed writes the same bytes regardless of partitioning. */
object DataGen {
  val DataSeed = 42

  final case class Sizes(sf: Double) {
    private def n(base: Double) = math.max(1L, math.round(base * sf))
    val customer = n(150000); val supplier = n(10000); val part = n(200000)
    val orders = n(1500000); val lineitem = n(6000000); val events = n(1000000)
    val users = n(15000); val documents = n(50000); val embeddings = n(20000)
    def rows: Map[String, Long] = Map("region" -> 5L, "nation" -> 25L,
      "customer" -> customer, "supplier" -> supplier, "part" -> part,
      "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  private val Vocab = Seq("a", "the", "data", "spark", "query", "table",
    "row", "column", "key", "value", "hash", "sort", "merge", "join",
    "group", "agg", "filter", "scan", "batch", "stream", "window", "order",
    "line", "part", "customer", "vector", "fast", "slow", "big", "small",
    "index", "plan", "cache", "shuffle", "task", "stage", "lake", "commit",
    "snapshot", "schema")

  /** Uniform [0, 1) draw number `k` for the current row. */
  private def u(k: Int, id: String = "id"): String =
    s"(pmod(xxhash64($id, $k, $DataSeed), 2147483647) / 2147483647.0)"
  private def pick(k: Int, values: Seq[String]): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(", ")}), " +
      s"1 + cast(${u(k)} * ${values.size} as int))"
  private def int(k: Int, n: Long): String = s"cast(${u(k)} * $n as bigint)"

  /** The tables at `dir`, generated on first use. The data depends on
    * `sf` and this generator only (not on the workload seed), so runs
    * share one copy; it is the benchmark's input, like the testdata the
    * engine reads, and its generation is not part of any set-up time.
    * Returns the sizes and the seconds spent generating (0 if cached). */
  def cached(spark: SparkSession, dir: java.nio.file.Path, sf: Double): (Sizes, Double) = {
    import java.nio.file.{Files, StandardCopyOption}
    val done = dir.resolve("_COMPLETE")
    if (Files.exists(done)) return (Sizes(sf), 0.0)
    val t0 = System.nanoTime()
    val tmp = dir.resolveSibling(s"${dir.getFileName}.tmp-${ProcessHandle.current.pid}")
    val z = generate(spark, tmp.toString, sf)
    Files.write(tmp.resolve("_COMPLETE"), Array.emptyByteArray)
    Files.createDirectories(dir.getParent)
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    (z, (System.nanoTime() - t0) / 1e9)
  }

  def generate(spark: SparkSession, dir: String, sf: Double): Sizes = {
    val z = Sizes(sf)
    def range(n: Long) = spark.range(0, n, 1, 4)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", range(5).selectExpr("cast(id as int) AS r_regionkey",
      "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'), " +
        "cast(id as int) + 1) AS r_name"))
    write("nation", range(25).selectExpr("cast(id as int) AS n_nationkey",
      "concat('NATION_', id) AS n_name", "cast(id % 5 as int) AS n_regionkey"))
    write("customer", range(z.customer).selectExpr("id AS c_custkey",
      "format_string('Customer#%09d', id) AS c_name",
      s"cast(${int(1, 25)} as int) AS c_nationkey",
      s"round(-999.99 + ${u(2)} * 10999.98, 2) AS c_acctbal",
      s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment"))
    write("supplier", range(z.supplier).selectExpr("id AS s_suppkey",
      "format_string('Supplier#%09d', id) AS s_name",
      s"cast(${int(1, 25)} as int) AS s_nationkey",
      s"round(-999.99 + ${u(2)} * 10999.98, 2) AS s_acctbal"))
    write("part", range(z.part).selectExpr("id AS p_partkey",
      s"concat(${pick(1, Seq("large", "hot", "blue", "small", "red", "cold", "green", "dark"))}, ' ', " +
        s"${pick(2, Seq("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"))}) AS p_name",
      s"concat('Brand#', 1 + ${int(3, 25)}) AS p_brand",
      s"${pick(4, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"))} AS p_type",
      s"cast(1 + ${int(5, 50)} as int) AS p_size",
      "round(900.0 + (id % 1000) * 0.1, 2) AS p_retailprice"))
    write("orders", range(z.orders).selectExpr("id AS o_orderkey",
      s"${int(1, z.customer)} AS o_custkey",
      s"${pick(2, Seq("O", "F", "P"))} AS o_orderstatus",
      s"round(1000.0 + ${u(3)} * 499000.0, 2) AS o_totalprice",
      s"cast(date_add(DATE'1995-01-01', cast(${int(4, 2404)} as int)) as timestamp_ntz) AS o_orderdate",
      s"${pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority"))
    write("lineitem", range(z.lineitem).selectExpr(
      s"${int(1, z.orders)} AS l_orderkey",
      s"${int(2, z.part)} AS l_partkey",
      s"${int(3, z.supplier)} AS l_suppkey",
      s"cast(1 + ${int(4, 7)} as int) AS l_linenumber",
      s"cast(1 + ${int(5, 50)} as double) AS l_quantity",
      s"round(900.0 + ${u(6)} * 104099.0, 2) AS l_extendedprice",
      s"${int(7, 11)} / 100.0 AS l_discount",
      s"${int(8, 9)} / 100.0 AS l_tax",
      s"${pick(9, Seq("N", "A", "R"))} AS l_returnflag",
      s"${pick(10, Seq("O", "F"))} AS l_linestatus",
      s"cast(date_add(DATE'1995-01-02', cast(${int(11, 2498)} as int)) as timestamp_ntz) AS l_shipdate"))
    // ts ascends with event_id over 30 days (the testdata's shape), with
    // sub-step jitter so no two events share a microsecond
    val stepMicros = 30L * 86400L * 1000000L / z.events
    write("events", range(z.events).selectExpr("id AS event_id",
      s"cast(timestamp_micros(1704067200000000 + id * $stepMicros + " +
        s"cast(${u(1)} * ${stepMicros - 1} as bigint)) as timestamp_ntz) AS ts",
      s"${int(2, z.users)} AS user_id",
      s"${pick(3, Seq("click", "error", "purchase", "signup", "view"))} AS event_type",
      s"round(-ln(1.0 - ${u(4)}) * 50.0, 2) AS value",
      s"concat('{\"k\": ', ${int(5, 100)}, '}') AS props"))
    // one document in 20 is a near-duplicate of the document three ids
    // earlier (same words except the second), so the dedup and
    // decontamination families have real candidate pairs
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    write("documents", range(z.documents)
      .selectExpr("id", "if(id % 20 = 3, id - 3, id) AS base")
      .selectExpr("id AS doc_id",
        s"concat_ws(' ', transform(sequence(1, 8 + cast(${u(1, "base")} * 90 as int)), " +
          s"i -> element_at($vocab, 1 + cast(pmod(xxhash64(if(i = 2, id, base), i, $DataSeed), " +
          s"${Vocab.size}) as int)))) AS text",
        s"element_at(array('en', 'en', 'en', 'en', 'de', 'fr', 'es', 'zh', 'en', 'de'), " +
          s"1 + cast(${u(2)} * 10 as int)) AS lang",
        "concat('src', id % 20) AS source")
      .selectExpr("*", "cast(length(text) as bigint) AS n_chars"))
    write("embeddings", range(z.embeddings)
      .selectExpr("id", s"cast(${int(1, 10)} as int) AS label")
      .selectExpr("id", "label",
        "transform(sequence(0, 63), j -> " +
          s"(pmod(xxhash64(label, j, $DataSeed), 2001) / 1000.0 - 1.0) * 0.6 + " +
          s"(pmod(xxhash64(id, j, ${DataSeed + 1}), 2001) / 1000.0 - 1.0)) AS raw")
      .selectExpr("id AS vec_id",
        "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) as float)) AS embedding",
        "label"))
    z
  }
}
