package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{GraftSql, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Warehouse metadata for both lake read surfaces — [[LakeCatalog]] (the
  * in-process facade) and [[graft.sources.GraftLakeSource]] /
  * [[graft.sources.GraftCatalog]] (DataSourceV2) — and for
  * [[TableCommit]]'s publish: the layout constants, the one pointer
  * read ([[currentGen]]), the one snapshot-log codec ([[LogEntry]]) and
  * [[TableState]], the resolved table state every facade and V2
  * operation reads through. Listing rules, time-travel guards and log
  * queries exist once, here, and so does the hand-off to Spark: each
  * state walks its served files once ([[TableState.listing]]) and both
  * read surfaces plan from that listing ([[TableState.relation]] for
  * the facade, [[TableState.parquetTable]] for V2), never through
  * Spark's own path resolution and directory listing.
  *
  * Keyed by (warehouseDir, namespace.table) — the same signature shape
  * Iceberg's metadata layer has (catalog location + table identifier).
  */
private[graft] object LakeMeta {

  /** Physical commit partition column (append tables only). */
  val CommitCol = "commit"

  /** Generation-pointer layout constants (see [[TableCommit]]): a
    * table directory is a CONTAINER holding dot-prefixed generation
    * dirs, a tiny pointer file naming the current one, and retirement
    * markers for grace-retained old generations. The dot prefix keeps
    * generations invisible to any raw parquet scan of the container —
    * a bypassing reader fails loudly instead of seeing a torn mix of
    * generations. */
  val PointerName = "_gen_pointer"
  val GenPrefix = ".gen-"
  val RetiredPrefix = ".gen_retired_"
  val SnapshotLogName = "snapshots.jsonl"
  val TagsName = "tags.json"

  /** Metadata sidecars are COLLOCATED inside the generation directory
    * (`<table>/<gen>/_graft_meta/…`) so a generation is one complete
    * self-describing table state: data, schema, snapshot log and tags
    * commit together under a single pointer swap — there is no crash
    * window where a table's data and sidecars can disagree. The `_`
    * prefix keeps the subtree invisible to parquet scans of the data
    * dir. */
  val MetaDirName = "_graft_meta"

  def nameParts(name: String): (String, String) = name.split('.') match {
    case Array(ns, t) => (ns, t)
    case _ => throw new IllegalArgumentException(s"expected namespace.table, got $name")
  }

  /** The table CONTAINER directory `<warehouse>/<ns>/<table>`. Holds
    * the pointer + generations; never read raw — data lives under
    * [[TableState.dir]]. */
  def tablePath(warehouseDir: String, name: String): String = {
    val (ns, t) = nameParts(name)
    s"$warehouseDir/$ns/$t"
  }

  /** The generation the container's pointer names — the only pointer
    * read. None for a table with no pointer (not yet created, or a
    * pre-generation legacy layout). */
  def currentGen(container: Path): Option[String] = {
    val p = container.resolve(PointerName)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), "UTF-8").trim)
  }

  /** Resolve `name` once: one pointer read, then everything the
    * operation needs comes from that generation. A reader that keeps
    * the state is snapshot-isolated for the retention grace (the
    * generation dir is immutable-except-appends once current and
    * survives [[TableCommit.retireGraceMs]] past its retirement). A
    * legacy layout (no pointer) resolves to the container itself. */
  def resolve(warehouseDir: String, name: String): TableState = {
    val c = Paths.get(tablePath(warehouseDir, name))
    new TableState(warehouseDir, name, currentGen(c).fold(c)(c.resolve))
  }

  /** The current generation's data directory. */
  def dataPath(warehouseDir: String, name: String): String =
    resolve(warehouseDir, name).dir.toString

  /** Physical partition columns readers never see. */
  def hiddenCol(c: String): Boolean =
    c == CommitCol || c.startsWith(graft.plans.HiddenPartitionPruning.Prefix)

  /** N of a `commit=N` directory name. */
  def commitId(dirName: String): Option[Long] =
    if (dirName.startsWith(CommitCol + "=")) dirName.substring(CommitCol.length + 1).toLongOption
    else None

  /** Entry names of a directory (empty when it does not exist). */
  def childNames(dir: Path): List[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString).toList finally st.close()
    }

  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }

  /** One snapshot-log line. `fence` rides `expire` entries (the new
    * time-travel floor), `batchId` exactly-once appends. */
  final case class LogEntry(committedAt: String, snapshotId: Long, operation: String,
      addedRecords: Long, batchId: Option[Long] = None, fence: Option[Long] = None) {
    def line: String =
      s"""{"committed_at":"$committedAt","snapshot_id":$snapshotId,""" +
        s""""operation":"$operation","added_records":$addedRecords""" +
        batchId.fold("")(b => s""","batch_id":$b""") +
        fence.fold("")(f => s""","fence":$f""") + "}\n"
  }

  object LogEntry {
    private val Field = """"([a-z_]+)":"?([^",}]*)""".r

    def parse(line: String): LogEntry = {
      val f = Field.findAllMatchIn(line).map(m => m.group(1) -> m.group(2)).toMap
      def num(k: String) = f.get(k).flatMap(_.toLongOption)
      LogEntry(f.getOrElse("committed_at", ""), num("snapshot_id").getOrElse(0L),
        f.getOrElse("operation", ""), num("added_records").getOrElse(0L),
        num("batch_id"), num("fence"))
    }
  }

  private def readString(p: Path): Option[String] =
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8")) else None

  private def writeAtomic(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, s.getBytes("UTF-8"))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private val TagRe = """"([^"]+)":(\d+)""".r

  /** One served data file: its path under the generation dir, its size
    * and its mtime in milliseconds (what a Hadoop listing reports). */
  final case class DataFile(rel: String, size: Long, mtime: Long)

  /** The files under `root` that Spark's listing would return, in its
    * order: [[graft.Tables.listed]] applied at every path segment, the
    * files of a directory before those of its subdirectories, entries
    * in directory order. A file root is its own single entry. */
  private def walk(dir: Path, root: Path): Vector[DataFile] = {
    def file(p: Path, a: BasicFileAttributes) =
      DataFile(dir.relativize(p).toString, a.size, a.lastModifiedTime.toMillis)
    def under(d: Path): Vector[DataFile] = {
      val st = Files.newDirectoryStream(d)
      val entries = try st.asScala.toVector.filter(p => graft.Tables.listed(p.getFileName.toString))
        .map(p => p -> Files.readAttributes(p, classOf[BasicFileAttributes]))
        finally st.close()
      val (dirs, files) = entries.partition(_._2.isDirectory)
      files.collect { case (p, a) if a.isRegularFile => file(p, a) } ++
        dirs.flatMap(e => under(e._1))
    }
    val a = Files.readAttributes(root, classOf[BasicFileAttributes])
    if (a.isDirectory) under(root) else Vector(file(root, a))
  }

  /** A local path as Spark's listing qualifies it (`file:///…`). */
  private def qualified(p: Path): HPath =
    new HPath(p.toString).makeQualified(LocalFs, null)
  private val LocalFs = java.net.URI.create("file:///")

  /** The block size a Hadoop listing of a local file reports. */
  private val LocalBlockSize = 32L * 1024 * 1024

  /** The leaf files of each root path, handed to the file index that
    * owns it: a listed root is never listed again by Spark. A `refresh()`
    * of the index clears it, so a refreshed index lists from disk. */
  private final class ListingCache(init: Map[HPath, Array[FileStatus]]) extends FileStatusCache {
    private val leaves = new ConcurrentHashMap[HPath, Array[FileStatus]](init.asJava)
    override def getLeafFiles(path: HPath): Option[Array[FileStatus]] = Option(leaves.get(path))
    override def putLeafFiles(path: HPath, files: Array[FileStatus]): Unit = leaves.put(path, files)
    override def invalidateAll(): Unit = leaves.clear()
  }

  /** One generation of a table, as one operation sees it: the data dir
    * and its sidecars, each read at most once. The schema, tags, log
    * and listing are read lazily and kept; an operation that writes a
    * sidecar resolves again to see the change. */
  final class TableState(val warehouse: String, val name: String, val dir: Path) {
    val meta: Path = dir.resolve(MetaDirName)
    def logPath: Path = meta.resolve(SnapshotLogName)
    def schemaPath: Path = meta.resolve("schema.json")
    def tagsPath: Path = meta.resolve(TagsName)

    /** The full READ schema (data columns then hidden partition
      * columns) recorded at write time. */
    lazy val schema: Option[StructType] =
      readString(schemaPath).map(DataType.fromJson(_).asInstanceOf[StructType])

    lazy val tags: Map[String, Long] = readString(tagsPath).fold(Map.empty[String, Long])(
      TagRe.findAllMatchIn(_).map(m => m.group(1) -> m.group(2).toLong).toMap)

    /** The snapshot log, parsed once; entry i has snapshot id i + 1. */
    lazy val history: Vector[LogEntry] =
      if (!Files.exists(logPath)) Vector.empty
      else Files.readAllLines(logPath).asScala.map(LogEntry.parse).toVector

    def currentSnapshotId: Long = history.size.toLong

    def batchApplied(batchId: Long): Boolean = history.exists(_.batchId.contains(batchId))

    def snapshotExists(id: Long): Boolean = history.exists(_.snapshotId == id)

    /** Latest snapshot committed at or before `inst` (Iceberg's
      * as-of-timestamp semantics). Both sides compare at microseconds,
      * Spark's timestamp precision: the log records nanoseconds, and a
      * commit time read back through Spark must still address its own
      * commit. */
    def snapshotIdAt(inst: Instant): Long = {
      val at = inst.truncatedTo(ChronoUnit.MICROS)
      val best = history.filter(e =>
        !Instant.parse(e.committedAt).truncatedTo(ChronoUnit.MICROS).isAfter(at))
        .map(_.snapshotId).foldLeft(-1L)(math.max)
      require(best >= 1L, s"$name has no snapshot committed at or before $inst")
      best
    }

    /** Oldest snapshot still time-travelable: physical rewrites fence
      * at their OWN snapshot (earlier files are gone); expire entries
      * carry an explicit fence value. */
    def rewriteFloor: Long = history.map { e =>
      if (e.operation == "rewrite") e.snapshotId
      else if (e.operation == "expire") e.fence.getOrElse(0L)
      else 0L
    }.foldLeft(0L)(math.max)

    /** The source timestamp column of the hidden day partitioning
      * (None for unpartitioned / CTAS tables), recovered from the
      * sidecar's `graft_days_<ts>` physical column. */
    def partitionTs: Option[String] = schema.toSeq.flatMap(_.fieldNames)
      .find(_.startsWith(graft.plans.HiddenPartitionPruning.Prefix))
      .map(_.stripPrefix(graft.plans.HiddenPartitionPruning.Prefix))

    /** The children both read surfaces scan, sorted: Spark's listing
      * rule ([[graft.Tables.listed]]) minus `commit=N` dirs with no log
      * line (the log line is an append's commit point). A table left
      * mid-rewrite by [[LakeCatalog.deleteWhere]] is refused: between
      * retire and promote one commit dir is missing, and a read would
      * silently drop its rows. */
    lazy val readable: Seq[String] = {
      val names = childNames(dir)
      val residue = names.filter(n => n.startsWith(".delete_tmp_") || n.startsWith(".delete_old_"))
      if (residue.nonEmpty) throw new IllegalStateException(
        s"$name has an unrecovered interrupted rewrite (${residue.sorted.mkString(", ")}); " +
          "run LakeCatalog.recoverDeletes on the writing side before reading")
      val logged = history.map(_.snapshotId).toSet
      names.filter(n => graft.Tables.listed(n) && commitId(n).forall(logged)).sorted
    }

    /** The served `commit=N` dirs as (N, dir name), in commit order. */
    def commits: Seq[(Long, String)] =
      readable.flatMap(n => commitId(n).map(_ -> n)).sortBy(_._1)

    /** The children a read at `snapshot` serves: every readable child,
      * or (guarded by [[requireTravel]]) the commit dirs up to the
      * snapshot, so excluded commits are never listed. A missing data
      * dir is refused. */
    def served(snapshot: Option[Long]): Seq[String] = {
      require(Files.isDirectory(dir), s"no such table data directory: $dir")
      snapshot match {
        case None => readable
        case Some(id) =>
          requireTravel(id)
          commits.filter(_._1 <= id).map(_._2)
      }
    }

    private val listings = new ConcurrentHashMap[Option[Long], Seq[(String, Vector[DataFile])]]()

    /** The served children with the data files under each: one
      * `java.nio` walk per state and snapshot, the only listing a lake
      * read does. */
    def listing(snapshot: Option[Long] = None): Seq[(String, Vector[DataFile])] =
      listings.computeIfAbsent(snapshot, _ => served(snapshot).map(c => c -> walk(dir, dir.resolve(c))))

    /** Spark's file index over [[listing]], with the generation dir as
      * `basePath` (partition values still come from the dir names, typed
      * by the recorded schema). Its statuses come from a cache the index
      * owns, so building it lists nothing; the same constructor serves
      * Spark's own catalog tables (`CatalogFileIndex`). */
    def fileIndex(spark: SparkSession, snapshot: Option[Long]): InMemoryFileIndex = {
      val roots = listing(snapshot).map { case (c, files) =>
        qualified(dir.resolve(c)) -> files.map(f => new FileStatus(f.size, false, 1,
          LocalBlockSize, f.mtime, qualified(dir.resolve(f.rel)))).toArray
      }
      new InMemoryFileIndex(spark, roots.map(_._1), Map("basePath" -> dir.toString), schema,
        new ListingCache(roots.toMap))
    }

    /** The facade's relation over the full listing: the recorded schema
      * is the user schema. With no sidecar (the repair read) the data
      * schema is merged from every footer, as `mergeSchema` does. */
    def relation(spark: SparkSession): HadoopFsRelation = {
      val index = fileIndex(spark, None)
      val format = new ParquetFileFormat
      val options = if (schema.isEmpty) Map("mergeSchema" -> "true") else Map.empty[String, String]
      val parts = index.partitionSchema
      val resolver = spark.sessionState.conf.resolver
      val data = schema.map(s => StructType(s.filterNot(f => parts.exists(p => resolver(p.name, f.name)))))
        .orElse(format.inferSchema(spark, options, index.allFiles()))
        .getOrElse(throw new IllegalStateException(
          s"$name has no schema sidecar and no data file to infer one from"))
      HadoopFsRelation(index, parts, GraftSql.asNullable(data), None, format, options)(spark)
    }

    /** The V2 scan table: Spark's own [[ParquetTable]] (pushdown,
      * pruning, vectorized decode) over the same index as the facade. */
    def parquetTable(spark: SparkSession, snapshot: Option[Long],
        options: CaseInsensitiveStringMap): ParquetTable = {
      val opts = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
      // no sidecar: merge every footer, like the facade's repair read
      if (schema.isEmpty) opts.put("mergeSchema", "true")
      val st = this
      new ParquetTable(s"graft:$name", spark, new CaseInsensitiveStringMap(opts),
          Seq(dir.toString), schema, classOf[ParquetFileFormat]) {
        override lazy val fileIndex = st.fileIndex(spark, snapshot)
      }
    }

    def hasHistory: Boolean = schema.fold(commits.nonEmpty)(_.fieldNames.contains(CommitCol))

    def requireHistory(): Unit = require(hasHistory,
      s"$name has no commit history (CTAS tables hold only their latest state)")

    /** The guard of every read at or since a snapshot. */
    def requireTravel(id: Long): Unit = {
      requireHistory()
      require(id >= rewriteFloor, s"$name snapshot $id predates the last compaction " +
        s"(rewrite snapshot $rewriteFloor) — its files were folded away")
    }

    def saveSchema(s: StructType): Unit = writeAtomic(schemaPath, s.json)

    def saveTags(t: Map[String, Long]): Unit = writeAtomic(tagsPath,
      t.map { case (k, v) => s""""${k.replace("\"", "")}":$v""" }.mkString("{", ",", "}"))

    private var claimed = false

    /** The next snapshot's commit dir, cleared of any unlogged dir a
      * crash between rename and log line left there (never served). */
    def nextCommit(): Path = {
      val p = dir.resolve(s"$CommitCol=${currentSnapshotId + 1}")
      deleteRecursive(p)
      claimed = true
      p
    }

    /** Append this operation's log line (the one writer of the log).
      * An operation that claimed no commit dir drops an unlogged one at
      * its id, so its line cannot make that dir visible. One line per
      * resolved state. Returns the new snapshot id. */
    def appendLog(op: String, rows: Long, batchId: Option[Long] = None,
        fence: Option[Long] = None): Long = {
      val id = currentSnapshotId + 1
      if (!claimed) deleteRecursive(dir.resolve(s"$CommitCol=$id"))
      Files.createDirectories(meta)
      Files.write(logPath,
        LogEntry(Instant.now().toString, id, op, rows, batchId, fence).line.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      id
    }
  }
}
