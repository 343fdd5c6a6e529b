package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata star schema
  * (see TESTDATA.md and FIXTURES.md §B).
  *
  * All queries read parquet directly so Catalyst's vectorized parquet
  * scan, column pruning and predicate pushdown apply. At 100 TB these
  * would be catalog tables / Iceberg scans; the shape of every
  * downstream plan (scan → prune → push) is identical.
  *
  * Every read goes through [[read]], which hands the reader a recorded
  * schema instead of letting Spark infer one: a bare
  * `spark.read.parquet(path)` runs one schema-inference job per table
  * per query. The recorded schema is table metadata, the way an Iceberg
  * catalog keeps it (`pipeline.LakeMeta` does the same for the lake);
  * every query still lists and scans its files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change how parquet physical types map to Spark
    * types; their values are part of the resolver's key. */
  private val typeMappingConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private final case class Key(path: String, confs: Seq[String])
  /** (relative name, size, mtime µs) of each data file, sorted by name. */
  private type Fingerprint = Seq[(String, Long, Long)]
  private final case class Recorded(fingerprint: Fingerprint, schema: StructType)

  /** One entry per distinct (path, type-mapping confs), JVM-wide. The key
    * makes the recorded schema equal what a fresh inference would return
    * in any session, so it is deliberately not per-session: it survives
    * Bench and Verify session rebuilds and is shared by Thrift sessions. */
  private val recorded = new ConcurrentHashMap[Key, Recorded]()

  /** `path`'s schema as `spark.read.parquet(path).schema` would infer it
    * under the session's type-mapping confs, without a Spark job while
    * the files are unchanged. A change of the files' `java.nio` fingerprint
    * (file names, sizes, mtimes) re-infers once; a column recorded
    * before that now has another type throws instead of handing queries
    * a drifted schema. Paths outside the local filesystem are inferred
    * on every call. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val local = localPath(path)
    if (local.isEmpty) return spark.read.parquet(path).schema
    val key = Key(local.get.toString, typeMappingConfs.map(spark.conf.get))
    val fp = fingerprint(local.get)
    val hit = recorded.get(key)
    if (hit != null && hit.fingerprint == fp) return hit.schema
    val fresh = Recorded(fp, spark.read.parquet(path).schema)
    recorded.compute(key, (_, prev) => {
      if (prev != null) checkNoDrift(path, prev.schema, fresh.schema)
      fresh
    }).schema
  }

  /** The one read path for parquet tables: a read with the recorded
    * schema of [[schemaOf]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** The local file a path names; None for other filesystems and for
    * globs, whose file set the fingerprint walk cannot see. */
  private def localPath(path: String): Option[Path] = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    val local = uri.getScheme == null || uri.getScheme == "file"
    if (!local || "*?[{".exists(uri.getPath.contains(_))) None
    else Some(Paths.get(uri.getPath).toAbsolutePath.normalize)
  }

  /** Spark's own listing rule (`HadoopFSUtils.shouldFilterOutPathName`):
    * hidden and `_` entries and files still being copied (`._COPYING_`)
    * are skipped, except partition dirs and the parquet summary files. */
  private[graft] def listed(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) ||
      name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** A flat file is its own single entry (relative name ""). */
  private def fingerprint(root: Path): Fingerprint =
    if (!Files.exists(root)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val stream = Files.find(root, Int.MaxValue, (f, a) => a.isRegularFile &&
        root.relativize(f).iterator.asScala.forall(seg => listed(seg.toString)))
      try stream.iterator.asScala.map { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        (root.relativize(f).toString, a.size, a.lastModifiedTime.to(TimeUnit.MICROSECONDS))
      }.toVector.sortBy(_._1)
      finally stream.close()
    }

  private def checkNoDrift(path: String, before: StructType, after: StructType): Unit = {
    val was = before.fields.map(f => f.name -> f.dataType).toMap
    after.fields.foreach { f =>
      was.get(f.name).filter(_.catalogString != f.dataType.catalogString).foreach { old =>
        val table = Paths.get(path).getFileName.toString.stripSuffix(".parquet")
        throw new IllegalStateException(
          s"table $table ($path): column ${f.name} changed type from " +
            s"${old.catalogString} to ${f.dataType.catalogString}; " +
            "queries were written against the recorded type")
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events table's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects; the legacy conf surfaces it as a raw nanos LONG) and
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). Normalize both to a session-zone TimestampType so
    * every downstream query sees one stable type. The nanos→micros
    * conversion is exact integer math (`div`, not double division,
    * which would lose precision on ~1.7e18 ns epochs) and lossless for
    * this data (no sub-microsecond components at any sf); the NTZ cast
    * is value-preserving under the engine's pinned UTC session zone. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already a session-zone timestamp
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")

  /** Defensive-normalization philosophy: the DuckDB oracle recomputes
    * every gate from the RAW parquet, so queries should follow the
    * file's types the way the oracle does — pinning types here could
    * manufacture Spark-vs-oracle drift. The exceptions are columns a
    * native kernel hard-requires: `embedding` must be array<float>
    * (SortedLongJaccard-style vector kernels and VecAggregates resolve
    * on FloatType); a testdata regeneration that widens it to
    * list<double> would otherwise fail analysis for the whole
    * similarity family — the same failure mode that broke all 51
    * events queries when `ts` changed physical type (see [[events]]). */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val raw = load(s, d, "embeddings")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case ArrayType(_, _) =>
        raw.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case _ => raw
    }
  }

  /** Register every table as a temp view (used by tests / ad-hoc SQL).
    * `events` goes through the nanos→micros conversion above so SQL
    * users see a real TimestampType ts. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      // route through the per-table loaders so SQL users get the same
      // normalizations (events ts flavor, embeddings element type) as
      // DataFrame callers — a raw load here would reintroduce the
      // type-drift failure mode for the view path only
      val df = n match {
        case "events" => events(spark, dir)
        case "embeddings" => embeddings(spark, dir)
        case _ => load(spark, dir, n)
      }
      df.createOrReplaceTempView(n)
    }
}
