package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import Schemas._

/** Ingestion stage — the Scala-native equivalent of
  * `spark-submit extract_bitcoin_prices.py` (reference dag.py:26-29,
  * extract_bitcoin_prices.py entry point, SURVEY §3.1).
  *
  * Semantics preserved exactly:
  *  - one shared `extracted_at` stamp per batch (py:151);
  *  - partial-failure tolerance: failed sources are skipped (py:153-172),
  *    an all-failed batch aborts without writing (py:174-177);
  *  - rows→DataFrame with the EXPLICIT raw schema, no inference
  *    (py:180-192, S4);
  *  - idempotent namespace + table DDL (py:128,131-145, W1/W2);
  *  - transactional-append by day partition (py:144,193, W3).
  */
object Ingest {
  val RawTable = "raw.bitcoin_prices"

  /** `BitcoinPrice`'s encoder, derived once: `spark.implicits` derives
    * a product encoder by reflection on every `toDS()`, a fixed cost of
    * each ingest batch. */
  private lazy val rawEncoder: Encoder[BitcoinPrice] = ExpressionEncoder[BitcoinPrice]()

  /** Run one ingest batch; returns rows appended (0 = aborted). */
  def run(spark: SparkSession, catalog: LakeCatalog,
          sources: Seq[PriceSource], tick: Long,
          extractedAt: Timestamp): Long = {
    // Driver-side fetch, like the reference — the data is 3 rows/batch;
    // Spark's involvement starts at createDataFrame (SURVEY §3.1 step 4).
    val records: Seq[BitcoinPrice] = sources.flatMap { src =>
      src.fetch(extractedAt, tick) match {
        case scala.util.Success(row) => Some(row)
        case scala.util.Failure(e) =>
          System.err.println(s"[ingest] ${src.name} failed: ${e.getMessage}")
          None
      }
    }
    if (records.isEmpty) {
      System.err.println("[ingest] all sources failed; aborting batch")
      return 0L // py:174-177 — no write, no snapshot
    }
    catalog.createNamespace("raw")
    // Dual schema declaration must agree (SURVEY §1.2): build typed,
    // then conform to the declared StructType with `to(schema)` —
    // column-level resolution that stays inside codegen (an
    // rdd-round-trip `createDataFrame(typed.rdd, schema)` would detour
    // through row serialization and break plan fusion).
    val conformed = spark.createDataset(records)(rawEncoder).toDF().to(Schemas.rawSchema)
    // A batch is ≤3 rows by construction (one per source, py:150-172);
    // one file per commit keeps the local-FS metadata churn (and at
    // scale, the small-file count) at its floor.
    catalog.append(RawTable, conformed.coalesce(1),
      partitionTs = Some("extracted_at"))
    records.size.toLong
  }
}

/** Transformation stage — the two dbt models run over Thrift in the
  * reference (dag.py:32-35, SURVEY §3.2), dependency-ordered stg→fct
  * like dbt `ref()`. Both are full-refresh table materializations (W4).
  */
object Transform {
  val StgTable = "raw.stg_bitcoin_prices"
  val FctTable = "raw.fct_bitcoin_daily"

  /** stg_bitcoin_prices (reference README.md:368-384): rename (P1),
    * COALESCE(_, 0) on the six numeric measures (P2), derived
    * extraction_date (P3). */
  def staging(raw: DataFrame): DataFrame =
    raw.select(
      col("source").as("data_source"),
      col("symbol").as("crypto_symbol"),
      coalesce(col("price_usd"), lit(0.0)).as("price_usd"),
      coalesce(col("price_eur"), lit(0.0)).as("price_eur"),
      coalesce(col("price_brl"), lit(0.0)).as("price_brl"),
      coalesce(col("market_cap_usd"), lit(0.0)).as("market_cap_usd"),
      coalesce(col("volume_24h_usd"), lit(0.0)).as("volume_24h_usd"),
      coalesce(col("change_24h_pct"), lit(0.0)).as("price_change_24h_pct"),
      col("extracted_at"),
      to_date(col("extracted_at")).as("extraction_date"))

  /** fct_bitcoin_daily (reference README.md:386-400): grain
    * (extraction_date, data_source, crypto_symbol) with MIN/MAX/AVG
    * price and COUNT(*) (A1). Partial (map-side) + final aggregation is
    * Catalyst's HashAggregateExec; AQE coalesces the post-shuffle side
    * for tiny batches (SURVEY §4). */
  def dailyMart(stg: DataFrame): DataFrame =
    stg.groupBy(col("extraction_date"), col("data_source"), col("crypto_symbol"))
      .agg(
        min(col("price_usd")).as("min_price_usd"),
        max(col("price_usd")).as("max_price_usd"),
        avg(col("price_usd")).as("avg_price_usd"),
        count(lit(1)).as("records"))

  def run(spark: SparkSession, catalog: LakeCatalog): Unit = {
    catalog.createOrReplace(StgTable, staging(catalog.table(Ingest.RawTable)))
    catalog.createOrReplace(FctTable, dailyMart(catalog.table(StgTable)))
  }

  /** Incremental mart materialization — the scale upgrade of the
    * reference's full-refresh CTAS (W4), which rebuilds the WHOLE mart
    * from all history every hour (~fine at 72 rows/day, ruinous at
    * 100 TB where a day's partition is the natural rebuild unit).
    *
    * Semantics: the mart grain contains `extraction_date`, so the mart
    * is exactly partition-decomposable by date — rebuilding only the
    * dates touched by raw commits AFTER `sinceSnapshot` (read via the
    * commit-pruned change feed) and dynamic-partition-overwriting them
    * yields byte-identical results to the full refresh (asserted in
    * PipelineSpec). Reads: new commits only + the touched dates'
    * full raw slice (day-partition pruned); writes: touched date
    * partitions only. This is dbt `incremental` +
    * `insert_overwrite` re-expressed on the snapshot log.
    *
    * The incremental mart table (`FctIncTable`) is partitioned by its
    * grain date; the CTAS mart stays for the verbatim-reference path. */
  def runIncremental(spark: SparkSession, catalog: LakeCatalog,
                     sinceSnapshot: Long): Long = {
    val nowSnapshot = catalog.currentSnapshotId(Ingest.RawTable)
    if (nowSnapshot <= sinceSnapshot) return nowSnapshot // nothing new
    val changed = staging(catalog.tableSince(Ingest.RawTable, sinceSnapshot))
      .select(col("extraction_date")).distinct()
    val raw = staging(catalog.table(Ingest.RawTable))
    // join (broadcast: touched dates are few) restricts the rebuild to
    // affected day partitions; day-partition pruning keeps the raw scan
    // from touching other days' files once pushed through the
    // HiddenPartitionPruning rewrite
    val rebuilt = dailyMart(raw.join(broadcast(changed), Seq("extraction_date")))
    catalog.overwritePartitions(FctIncTable, rebuilt, "extraction_date")
    nowSnapshot
  }

  val FctIncTable = "raw.fct_bitcoin_daily_inc"

  /** The staging model's SQL text, verbatim from the reference
    * (README.md:372-383) with dbt's relation resolution applied the
    * way dbt compiles it: `iceberg.raw.bitcoin_prices` → the registered
    * view name. Kept alongside the DataFrame transform and asserted
    * equivalent in PipelineSpec — the SQL surface a Thrift/dbt user
    * would run against this engine. */
  val StagingSql: String =
    """SELECT
      |    source as data_source,
      |    symbol as crypto_symbol,
      |    COALESCE(price_usd, 0) as price_usd,
      |    COALESCE(price_eur, 0) as price_eur,
      |    COALESCE(price_brl, 0) as price_brl,
      |    COALESCE(market_cap_usd, 0) as market_cap_usd,
      |    COALESCE(volume_24h_usd, 0) as volume_24h_usd,
      |    COALESCE(change_24h_pct, 0) as price_change_24h_pct,
      |    extracted_at,
      |    DATE(extracted_at) as extraction_date
      |FROM bitcoin_prices""".stripMargin

  /** The mart model's SQL text (reference README.md:390-399);
    * `{{ ref('stg_bitcoin_prices') }}` resolves to the staging view. */
  val DailyMartSql: String =
    """SELECT
      |    extraction_date,
      |    data_source,
      |    crypto_symbol,
      |    MIN(price_usd) as min_price_usd,
      |    MAX(price_usd) as max_price_usd,
      |    AVG(price_usd) as avg_price_usd,
      |    COUNT(*) as records
      |FROM stg_bitcoin_prices
      |GROUP BY extraction_date, data_source, crypto_symbol""".stripMargin

  /** Transform with observed metrics (`Dataset.observe`): row count
    * and null-price count ride the SAME job that materializes staging
    * — zero extra passes, the production pattern for emitting pipeline
    * health metrics (a dbt-style post-hoc test query would re-scan).
    * Returns (staging_rows, null_price_rows). */
  def runObserved(spark: SparkSession, catalog: LakeCatalog): (Long, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val stg = staging(catalog.table(Ingest.RawTable))
      .observe(obs, count(lit(1)).as("rows"),
        sum(col("price_usd").isNull.cast("long")).as("null_prices"))
    catalog.createOrReplace(StgTable, stg)
    catalog.createOrReplace(FctTable, dailyMart(catalog.table(StgTable)))
    val m = obs.get
    (m("rows").asInstanceOf[Long],
      Option(m("null_prices")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Run both models as SQL text (the dbt-over-Thrift path, SURVEY
    * §3.2): register the upstream tables as views, execute the model
    * SQL. Returns (staging, mart) DataFrames. */
  def runSql(spark: SparkSession, catalog: LakeCatalog): (DataFrame, DataFrame) = {
    catalog.table(Ingest.RawTable).createOrReplaceTempView("bitcoin_prices")
    val stg = spark.sql(StagingSql)
    stg.createOrReplaceTempView("stg_bitcoin_prices")
    (stg, spark.sql(DailyMartSql))
  }
}

/** The Airflow DAG as a 3-stage sequential driver (reference dag.py:
  * extract >> transform >> test, C1-C5). `runOnce` is one hourly tick;
  * the dbt-test stage lives in the ScalaTest suite (SURVEY §5). */
final class Pipeline(spark: SparkSession, warehouseDir: String,
                     sources: Seq[PriceSource] = PriceSource.fixtures) {
  val catalog = new LakeCatalog(spark, warehouseDir)
  private var tick = 0L

  /** One scheduled run: ingest → staging → mart. Returns rows ingested. */
  def runOnce(extractedAt: Option[Timestamp] = None): Long = {
    val ts = extractedAt.getOrElse(
      // Second-truncated like the reference's datetime.now(timezone.utc)
      Timestamp.from(java.time.Instant.now()
        .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)))
    val n = Ingest.run(spark, catalog, sources, tick, ts)
    tick += 1
    if (n > 0) Transform.run(spark, catalog)
    n
  }

  private var lastIncSnapshot = 0L

  /** One scheduled run with the INCREMENTAL mart: ingest, then rebuild
    * only the date partitions touched since the last processed raw
    * snapshot (Transform.runIncremental). */
  def runOnceIncremental(extractedAt: Option[Timestamp] = None): Long = {
    val ts = extractedAt.getOrElse(
      Timestamp.from(java.time.Instant.now()
        .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)))
    val n = Ingest.run(spark, catalog, sources, tick, ts)
    tick += 1
    if (n > 0)
      lastIncSnapshot = Transform.runIncremental(spark, catalog, lastIncSnapshot)
    n
  }

  /** The Airflow scheduler knobs the reference DAG pins
    * (dags/bitcoin_pipeline_dag.py:8,19: retries=0, catchup=False,
    * schedule_interval=hourly) as a deterministic replay over a window
    * of interval ticks. catchup=false runs ONLY the latest due
    * interval and records the backlog as "skipped" (Airflow does not
    * backfill with catchup off); catchup=true backfills every tick in
    * order. A tick whose extract aborts (all sources down → 0 rows,
    * extract_bitcoin_prices.py:174-177 exits the task) or throws is
    * re-attempted up to `retries` times and then recorded "failed" —
    * later ticks still run, because Airflow dag-runs are independent.
    * Returns (tick, status) per interval: skipped/success/failed. */
  def runSchedule(ticks: Seq[Timestamp], catchup: Boolean = false,
                  retries: Int = 0): Seq[(Timestamp, String)] = {
    val due: Set[Timestamp] = if (catchup) ticks.toSet else ticks.lastOption.toSet
    ticks.map { t =>
      if (!due(t)) t -> "skipped"
      else {
        var attempts = 0
        var outcome = "failed"
        while (outcome == "failed" && attempts <= retries) {
          attempts += 1
          outcome = scala.util.Try(runOnce(Some(t))) match {
            case scala.util.Success(n) if n > 0 => "success"
            case _ => "failed"
          }
        }
        t -> outcome
      }
    }
  }

  def incMartScan: DataFrame = catalog.table(Transform.FctIncTable)

  /** The reference's three canonical ad-hoc queries
    * (README.md:297-301) + the ingest verify query
    * (extract_bitcoin_prices.py:203). */
  def rawLimit10: DataFrame = catalog.table(Ingest.RawTable).limit(10)
  def martScan: DataFrame = catalog.table(Transform.FctTable)
  def latest5: DataFrame =
    catalog.table(Ingest.RawTable).orderBy(col("extracted_at").desc).limit(5)
  def snapshots: DataFrame = catalog.snapshots(Ingest.RawTable)
}
