package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DateType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.{LakeCatalog, LakeMeta}
import graft.pipeline.LakeMeta.deleteRecursive

/** `TableCatalog` + `SupportsNamespaces` plugin for LakeCatalog
  * warehouses — the reference's actual access pattern, where Spark is
  * configured with an Iceberg catalog and every table is addressed by
  * multi-part identifier (Iceberg-dbt-project/spark/
  * spark-defaults.conf:3-9 registers `demo` as an Iceberg REST
  * catalog; extract_bitcoin_prices.py:24-30,128,193 then uses
  * `CREATE NAMESPACE`, `spark.table("demo.raw.bitcoin_prices")` and
  * `df.writeTo(...).append()`). An EXTERNAL session configures:
  *
  * {{{
  *   spark.sql.catalog.graft           graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse /path/to/warehouse
  * }}}
  *
  * and then addresses the emulated lake exactly like the reference
  * addresses Iceberg:
  *
  * {{{
  *   spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.raw")
  *   df.writeTo("graft.raw.bitcoin_prices").append()
  *   spark.table("graft.raw.bitcoin_prices")
  *   spark.sql("SELECT * FROM graft.raw.bitcoin_prices VERSION AS OF 2")
  *   spark.sql("... TIMESTAMP AS OF '2026-01-02 00:00:00'")
  * }}}
  *
  * Architecture: identifier resolution + namespace DDL are driver-side
  * metadata operations on the warehouse layout (directory tree +
  * sidecars, via [[LakeMeta]] — the same code the facade and the path
  * mount read through); reads delegate to the shared
  * [[GraftLakeSource.mkTable]] scan (stock V2 parquet: pushdown,
  * pruning, vectorization); writes delegate through the V1 write seam
  * to [[LakeCatalog]]'s append/CTAS, keeping one single-writer
  * snapshot-commit implementation for every write surface. SQL time
  * travel (`VERSION AS OF` / `TIMESTAMP AS OF`) resolves through
  * [[loadTable]]'s version/timestamp overloads to the same
  * commit-dir-pruned scan as the path mount's `snapshot-id` option.
  *
  * 100 TB posture: every catalog call is metadata-grain (directory
  * listings, one sidecar file, one KB-scale log pass) — never a data
  * scan; table reads and writes inherit the scan/commit scale story of
  * the surfaces they delegate to.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
    Files.createDirectories(Paths.get(warehouse))
    // pointer commits need no roll-forward; this sweeps aged-out
    // retired/orphaned generations and abandoned staging residue,
    // and finishes any interrupted legacy-layout migration
    graft.pipeline.TableCommit.sweep(warehouse)
  }

  override def name(): String = catalogName

  private def facade =
    new LakeCatalog(SparkSession.active, warehouse)

  private def fullName(ident: Identifier): String = {
    require(ident.namespace.length == 1,
      s"graft catalog expects <namespace>.<table>, got " +
        s"${(ident.namespace :+ ident.name).mkString(".")}")
    s"${ident.namespace.head}.${ident.name}"
  }

  private def dirsUnder(p: java.nio.file.Path): List[String] = {
    if (!Files.isDirectory(p)) return Nil
    val st = Files.list(p)
    try st.iterator().asScala
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .toList.sorted
    finally st.close()
  }

  // ---- tables -------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toSeq).toArray)
    dirsUnder(Paths.get(warehouse, namespace.head))
      .map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean = {
    if (ident.namespace.length != 1) return false
    // the pointer commit needs no read-side recovery: existence is the
    // container directory, currency is whatever the pointer names
    Files.isDirectory(Paths.get(warehouse, ident.namespace.head, ident.name))
  }

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftLakeSource.mkTable(LakeMeta.resolve(warehouse, fullName(ident)), None,
      CaseInsensitiveStringMap.empty(), writable = true)
  }

  /** `VERSION AS OF v` — a snapshot id or a tag name, matching
    * Iceberg's branch-or-snapshot resolution. A numeric version is a
    * snapshot id only if that snapshot EXISTS in the log; otherwise it
    * falls through to tag resolution (so all-digit tag names stay
    * reachable, and an empty / overflowing / unknown version surfaces
    * one clear no-such-snapshot-or-tag error instead of a raw
    * NumberFormatException). Time-travel loads are read-only (writes
    * always target the current state). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val st = LakeMeta.resolve(warehouse, fullName(ident))
    val sid: Long = version.toLongOption
      .filter(id => id >= 1L && st.snapshotExists(id))
      .orElse(st.tags.get(version))
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot or tag '$version' on ${st.name}"))
    GraftLakeSource.mkTable(st, Some(sid), CaseInsensitiveStringMap.empty(), writable = false)
  }

  /** `TIMESTAMP AS OF ts` — Spark hands the timestamp in MICROSECONDS
    * since the epoch; resolution is the latest snapshot committed at
    * or before it (Iceberg's as-of-timestamp semantics), via one pass
    * over the KB-scale snapshot log. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val st = LakeMeta.resolve(warehouse, fullName(ident))
    val inst = java.time.Instant.EPOCH.plus(timestamp, java.time.temporal.ChronoUnit.MICROS)
    GraftLakeSource.mkTable(st, Some(st.snapshotIdAt(inst)),
      CaseInsensitiveStringMap.empty(), writable = false)
  }

  /** CREATE TABLE (empty): records the declared schema in the sidecar
    * (data columns + the hidden `commit` / `graft_days_*` physical
    * columns), so the first `writeTo(...).append()` lands day-
    * partitioned under `commit=1` exactly like a facade append.
    * Supported partitioning: a single `days(ts)` transform — the
    * reference's only partition spec (extract_bitcoin_prices.py:144) —
    * or none. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace)) throw new NoSuchNamespaceException(
      (catalogName +: ident.namespace.toSeq).toArray)
    val name = fullName(ident)
    val partTs: Option[String] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "days" =>
        val refs = t.references
        require(refs.length == 1 && refs.head.fieldNames.length == 1,
          s"days() transform must reference one top-level column, got $t")
        val c = refs.head.fieldNames.head
        require(schema.fieldNames.contains(c),
          s"days($c): no such column in the declared schema")
        Some(c)
      case other => throw new UnsupportedOperationException(
        "graft tables support PARTITIONED BY (days(ts)) or no " +
          s"partitioning, got ${other.mkString(", ")}")
    }
    val data = schema.fields.map(_.copy(nullable = true)).toSeq
    val hidden = StructField(LakeMeta.CommitCol, LongType) +:
      partTs.map(ts => StructField(
        graft.plans.HiddenPartitionPruning.Prefix + ts, DateType)).toSeq
    // an empty first generation + pointer, schema sidecar inside it —
    // the declared schema commits as part of generation zero
    new LakeMeta.TableState(warehouse, name, graft.pipeline.TableCommit.ensureTable(
      warehouse, ident.namespace.head, ident.name)).saveSchema(StructType(data ++ hidden))
    loadTable(ident)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = throw new UnsupportedOperationException(
    "ALTER TABLE: schema evolution happens on append (add-column only); " +
      "other alterations are not supported by the graft catalog")

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    // sidecars live inside the table directory — one recursive delete
    deleteRecursive(Paths.get(warehouse, ident.namespace.head, ident.name))
    true
  }

  /** Metadata-only rename within the warehouse: ONE directory move —
    * the collocated sidecars travel with the directory. */
  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    if (!namespaceExists(to.namespace)) throw new NoSuchNamespaceException(
      (catalogName +: to.namespace.toSeq).toArray)
    Files.move(Paths.get(warehouse, from.namespace.head, from.name),
      Paths.get(warehouse, to.namespace.head, to.name))
  }

  // ---- procedures (Iceberg's CALL surface) --------------------------
  //
  // The reference deployment manages its Iceberg tables with the
  // `CALL demo.system.<proc>(...)` maintenance procedures; this is the
  // same surface over the emulated lake: every procedure delegates to
  // the LakeCatalog facade op (ONE implementation of each maintenance
  // action, whichever surface invokes it) and returns its result as a
  // one-row LocalScan. All driver-side metadata work.

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  private val procedureNames = Seq("rollback_to_snapshot",
    "expire_snapshots", "tag_snapshot", "recover_deletes", "compact")

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] = {
    require(namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got " +
        namespace.mkString("."))
    procedureNames.map(Identifier.of(namespace, _)).toArray
  }

  override def loadProcedure(ident: Identifier)
      : UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got " +
        (ident.namespace :+ ident.name).mkString("."))
    val wh = warehouse
    def facade0 = new LakeCatalog(SparkSession.active, wh)
    def p(n: String, t: DataType) = ProcedureParameter.in(n, t).build()
    def row(vals: Any*): InternalRow =
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals.map {
        case s: String => UTF8String.fromString(s)
        case o => o
      })
    ident.name match {
      case "rollback_to_snapshot" => GraftProcedure(ident.name,
        Array(p("table", StringType), p("snapshot_id", LongType)),
        StructType(Seq(StructField("table", StringType),
          StructField("rolled_back_to", LongType),
          StructField("rows_removed", LongType)))) { in =>
          val t = in.getUTF8String(0).toString
          val sid = in.getLong(1)
          val removed = facade0.rollbackTo(t, sid)
          row(t, sid, removed)
        }
      case "expire_snapshots" => GraftProcedure(ident.name,
        Array(p("table", StringType), p("older_than", LongType)),
        StructType(Seq(StructField("table", StringType),
          StructField("new_floor", LongType)))) { in =>
          val t = in.getUTF8String(0).toString
          row(t, facade0.expireSnapshots(t, in.getLong(1)))
        }
      case "tag_snapshot" => GraftProcedure(ident.name,
        Array(p("table", StringType), p("tag", StringType),
          p("snapshot_id", LongType)),
        StructType(Seq(StructField("table", StringType),
          StructField("tag", StringType),
          StructField("snapshot_id", LongType)))) { in =>
          val t = in.getUTF8String(0).toString
          val tag = in.getUTF8String(1).toString
          facade0.tagSnapshot(t, tag, in.getLong(2))
          row(t, tag, in.getLong(2))
        }
      case "recover_deletes" => GraftProcedure(ident.name,
        Array(p("table", StringType)),
        StructType(Seq(StructField("table", StringType),
          StructField("recovered", BooleanType)))) { in =>
          val t = in.getUTF8String(0).toString
          facade0.recoverDeletes(t)
          row(t, true)
        }
      case "compact" => GraftProcedure(ident.name,
        Array(p("table", StringType)),
        StructType(Seq(StructField("table", StringType),
          StructField("snapshot_id", LongType)))) { in =>
          val t = in.getUTF8String(0).toString
          facade0.compact(t)
          row(t, facade0.currentSnapshotId(t))
        }
      case other => throw new IllegalArgumentException(
        s"unknown procedure system.$other; available: " +
          procedureNames.mkString(", "))
    }
  }

  /** One-row maintenance procedure: parameters + output schema + the
    * facade delegation, surfaced to Spark as a deterministic-false
    * bound procedure whose call returns a single LocalScan. */
  private case class GraftProcedure(pname: String,
      params: Array[ProcedureParameter], out: StructType)(
      body: InternalRow => InternalRow)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = pname
    override def description(): String =
      s"graft lake maintenance procedure $pname"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    // mutates warehouse state — never constant-foldable
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val result = body(input)
      val scan: Scan = new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[InternalRow] = Array(result)
        override def readSchema(): StructType = out
      }
      java.util.Collections.singletonList(scan).iterator()
    }
  }

  // ---- namespaces ---------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    dirsUnder(Paths.get(warehouse)).map(Array(_)).toArray

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException((catalogName +: namespace.toSeq).toArray)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      Files.isDirectory(Paths.get(warehouse, namespace.head))

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toSeq).toArray)
    java.util.Collections.singletonMap(SupportsNamespaces.PROP_LOCATION,
      Paths.get(warehouse, namespace.head).toString)
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"graft catalog namespaces are single-level, got " +
        namespace.mkString("."))
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException((catalogName +: namespace.toSeq).toArray)
    facade.createNamespace(namespace.head)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val tables = listTables(namespace)
    if (tables.nonEmpty && !cascade)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException((catalogName +: namespace.toSeq).toArray)
    tables.foreach(dropTable)
    deleteRecursive(Paths.get(warehouse, namespace.head))
    true
  }

  // ---- staged (atomic) CTAS / RTAS -----------------------------------
  //
  // Without staging, Spark's non-atomic ReplaceTableAsSelectExec is
  // drop → create → write: two concurrent CTAS writers on one table
  // can interleave those steps into a torn mix of both outputs or no
  // table at all (observed under the multi-session Thrift endpoint).
  // With StagingTableCatalog, each writer lands its FULL output in a
  // hidden per-writer staging table (`__stage_<uuid>_<name>`, filtered
  // from listTables by the `_` prefix) — a complete self-describing
  // generation, since the schema/snapshot-log/tag sidecars are
  // collocated inside its generation directory — and the publish is
  // one critical section under a per-warehouse commit lock (JVM
  // monitor + cross-process file lock): last-commit-wins for CREATE
  // OR REPLACE, explicit TableAlreadyExists refusal for plain CTAS.
  // The publish itself is TableCommit's generation-pointer commit
  // (the staging table's generation moves into the target container,
  // then ONE atomic pointer-file replace) — a crash at any point
  // leaves fully-old or fully-new with matching sidecars, readers
  // resolve the pointer and never observe a rename window, and
  // residue GCs by age. This is the optimistic-concurrency shape of
  // Iceberg's catalog swap (writers work isolated, the commit is a
  // metadata CAS); at 100 TB the critical section stays metadata-
  // grain — one directory rename plus one pointer replace, never a
  // data copy.

  import org.apache.spark.sql.connector.catalog.{StagedTable, TableInfo}
  import org.apache.spark.sql.connector.catalog.SupportsWrite
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}

  private sealed trait StageMode
  private case object StageCreate extends StageMode
  private case object StageReplace extends StageMode
  private case object StageCreateOrReplace extends StageMode

  private def stage(ident: Identifier, info: TableInfo,
      mode: StageMode): StagedTable = {
    if (mode == StageCreate && tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (mode == StageReplace && !tableExists(ident))
      throw new NoSuchTableException(ident)
    val tmp = Identifier.of(ident.namespace,
      "__stage_" + java.util.UUID.randomUUID().toString.replace("-", "") +
        "_" + ident.name)
    createTable(tmp, info.schema(), info.partitions(), info.properties())
    val delegate = loadTable(tmp).asInstanceOf[Table with SupportsWrite]
    new StagedTable with SupportsWrite {
      override def name(): String = s"$catalogName.${fullName(ident)}"
      override def schema(): StructType = delegate.schema()
      override def partitioning(): Array[Transform] = delegate.partitioning()
      override def properties(): java.util.Map[String, String] =
        delegate.properties()
      override def capabilities()
          : java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
        delegate.capabilities()
      override def newWriteBuilder(i: LogicalWriteInfo): WriteBuilder =
        delegate.newWriteBuilder(i)
      override def commitStagedChanges(): Unit =
        commitStaged(ident, tmp, mode)
      override def abortStagedChanges(): Unit = { dropTable(tmp); () }
    }
  }

  /** The atomic publish: one per-warehouse critical section handing
    * the staging table's fully-written GENERATION directory (sidecars
    * inside) to [[graft.pipeline.TableCommit.commitGeneration]] — the
    * pointer-swap commit. Concurrency contract re-checked INSIDE the
    * lock: plain CTAS refuses if a rival committed first
    * (TableAlreadyExists, staging cleaned up); REPLACE requires the
    * table still exist; CREATE OR REPLACE is last-commit-wins. The
    * staged meta publishes as-is (its own write already logged one
    * snapshot line), so `logEntry = None`. */
  private def commitStaged(ident: Identifier, tmp: Identifier,
      mode: StageMode): Unit =
    graft.pipeline.TableCommit.withCommitLock(warehouse) {
      mode match {
        case StageCreate =>
          if (tableExists(ident)) {
            dropTable(tmp)
            throw new TableAlreadyExistsException(ident)
          }
        case StageReplace =>
          if (!tableExists(ident)) {
            dropTable(tmp)
            throw new NoSuchTableException(ident)
          }
        case StageCreateOrReplace => ()
      }
      val tmpContainer = Paths.get(warehouse, tmp.namespace.head, tmp.name)
      val gen = LakeMeta.currentGen(tmpContainer)
        .getOrElse(throw new IllegalStateException(
          s"staging table ${tmp.name} has no committed generation"))
      graft.pipeline.TableCommit.commitGeneration(warehouse,
        ident.namespace.head, ident.name, tmpContainer.resolve(gen),
        logEntry = None)
      deleteRecursive(tmpContainer) // staging container residue
    }

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, StageCreate)
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, StageReplace)
  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable =
    stage(ident, info, StageCreateOrReplace)
}

