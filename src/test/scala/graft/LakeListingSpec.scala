package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, FileScan}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** Both lake read surfaces plan from the table state's own listing
  * (`LakeMeta.TableState.listing`): for every table shape, the facade
  * and the V2 path mount scan the same files, with the same partition
  * values and rows, as Spark's own listing of the same children under
  * the generation dir, and a lake read discovers no file through Spark. */
class LakeListingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = TestSpark.tempDir("graft-listing")
  private val cat = new LakeCatalog(spark, wh)

  private def ts(h: Int): Timestamp =
    Timestamp.from(java.time.Instant.parse("2026-03-01T00:00:00Z").plusSeconds(3600L * h))

  private def discovered: Long = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  /** The index a DataFrame scans: the facade's V1 relation, or the V2
    * scan's. */
  private def index(df: DataFrame): PartitioningAwareFileIndex = {
    val plan = df.queryExecution.optimizedPlan
    plan.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .orElse(plan.collectFirst { case s: DataSourceV2ScanRelation => s.scan }
        .collect { case f: FileScan => f.fileIndex })
      .collect { case i: PartitioningAwareFileIndex => i }
      .getOrElse(fail(s"no file index in\n$plan"))
  }

  private def partitions(i: PartitioningAwareFileIndex): Seq[String] =
    i.partitionSpec().partitions.map(p =>
      s"${p.path} ${p.values.toSeq(i.partitionSchema).mkString(",")}").sorted

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** Spark's own listing of the children a read at `snapshot` serves. */
  private def control(name: String, snapshot: Option[Long]): DataFrame = {
    val st = LakeMeta.resolve(wh, name)
    val r = st.schema.fold(spark.read.option("mergeSchema", "true"))(spark.read.schema(_))
    r.option("basePath", st.dir.toString)
      .parquet(snapshot.fold(st.readable)(id => st.commits.filter(_._1 <= id).map(_._2))
        .map(c => s"${st.dir}/$c"): _*)
  }

  private def visible(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(LakeMeta.hiddenCol).toSeq: _*)

  /** Facade and V2 reads of `name` (at `snapshot`) against the control. */
  private def check(name: String, snapshot: Option[Long] = None): Unit = {
    val before = discovered
    val facade = snapshot.fold(cat.table(name))(cat.tableAsOf(name, _))
    val mount = snapshot.foldLeft(spark.read.format("graft"))(_.option("snapshot-id", _))
      .load(cat.tablePath(name))
    val (facadeRows, mountRows) = (facade.collect(), mount.collect())
    assert(discovered === before, s"$name: a lake read discovered files through Spark")

    val ctl = control(name, snapshot)
    val ctlIndex = index(ctl)
    val want = snapshot.fold(ctl)(id => ctl.filter(col(LakeMeta.CommitCol) <= id))
    // the facade lists every served child and prunes commits with a
    // partition filter; V2 lists only the commits up to the snapshot
    val full = control(name, None)
    assert(index(facade).inputFiles.sorted.toSeq === index(full).inputFiles.sorted.toSeq, name)
    assert(index(mount).inputFiles.sorted.toSeq === ctlIndex.inputFiles.sorted.toSeq, name)
    assert(partitions(index(facade)) === partitions(index(full)), name)
    assert(partitions(index(mount)) === partitions(ctlIndex), name)
    assert(index(facade).partitionSchema === index(full).partitionSchema, name)
    assert(index(mount).partitionSchema === ctlIndex.partitionSchema, name)
    assert(sorted(facadeRows) === sorted(visible(want).collect()), name)
    assert(sorted(mountRows) === sorted(facadeRows), name)
  }

  test("a day-partitioned append table and its time travel") {
    (0 until 3).foreach(i => Ingest.run(spark, cat, PriceSource.fixtures, i.toLong, ts(24 * i)))
    assert(cat.table(Ingest.RawTable).inputFiles.length === 3)
    check(Ingest.RawTable)
    check(Ingest.RawTable, Some(2L))
  }

  test("a CTAS table") {
    cat.createNamespace("mart")
    cat.createOrReplace("mart.c", (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .repartition(3))
    assert(cat.table("mart.c").inputFiles.length === 3)
    check("mart.c")
  }

  test("an add-column-evolved table") {
    cat.createNamespace("raw")
    cat.append("raw.evolved", Seq((1L, ts(1))).toDF("id", "at"), partitionTs = Some("at"))
    cat.append("raw.evolved", Seq((2L, ts(30), "x")).toDF("id", "at", "extra"),
      partitionTs = Some("at"))
    assert(cat.table("raw.evolved").columns.toSeq === Seq("id", "at", "extra"))
    check("raw.evolved")
    check("raw.evolved", Some(1L))
  }

  test("an empty table") {
    cat.createNamespace("raw")
    cat.append("raw.empty", Seq((1L, ts(1))).toDF("id", "at").filter(col("id") < 0),
      partitionTs = Some("at"))
    assert(cat.table("raw.empty").inputFiles.isEmpty)
    check("raw.empty")
  }

  test("a table with an unlogged commit dir") {
    cat.createNamespace("raw")
    (1 to 2).foreach(i => cat.append("raw.orphan", Seq((i.toLong, ts(i))).toDF("id", "at"),
      partitionTs = Some("at")))
    // a crash between the commit dir's rename and its log line
    val st = LakeMeta.resolve(wh, "raw.orphan")
    copyTree(st.dir.resolve("commit=2"), st.dir.resolve("commit=3"))
    assert(!LakeMeta.resolve(wh, "raw.orphan").readable.contains("commit=3"))
    assert(cat.table("raw.orphan").count() === 2L)
    check("raw.orphan")
  }

  test("a refreshed index lists from disk") {
    cat.createNamespace("mart")
    cat.createOrReplace("mart.r", Seq((1L, "a")).toDF("id", "s"))
    val i = index(cat.table("mart.r"))
    val files = i.allFiles()
    assert(files.length === 1)
    val before = discovered
    i.refresh()
    assert(discovered - before === 1L)
    assert(i.allFiles().map(_.getPath).toSeq === files.map(_.getPath).toSeq)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val st = Files.walk(from)
    try st.iterator().asScala.toList.foreach(p =>
      Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally st.close()
  }
}
