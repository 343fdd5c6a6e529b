package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{GraftSql, SparkSession}

/** Shared SparkSession factory for the engine's mains (Verify, Bench,
  * Serve, ScaleSmoke previously carried near-identical copies whose
  * hardening configs drifted apart — Serve shipped without the
  * heartbeat fix and became a zombie under load spikes).
  *
  * The base carries every config the engine requires or this
  * environment has burned us on:
  *  - GraftExtensions (pruning rules + TopKPerGroup strategy + kernel
  *    SQL functions) — gate queries fail without it;
  *  - UTC + non-ANSI (reference semantics, oracle parity) + AQE;
  *  - artifact isolation OFF (Spark 4 per-session isolation routes
  *    every Janino class-resolution probe through an RPC fetch even in
  *    local mode — measured 5x wall on codegen-heavy queries; one
  *    library in one JVM has no isolated artifacts to protect);
  *  - heartbeat 60 s / network timeout 600 s (a machine-load spike
  *    starving the single-JVM heartbeat thread for >10 s must not kill
  *    the context — the round-4 "Cannot call methods on a stopped
  *    SparkContext" failure);
  *  - checkpoint cleaner (iterative ops' reliable checkpoints are
  *    otherwise never reclaimed over a long run);
  *  - explicit 64 MB broadcast threshold (dimension tables stay
  *    broadcast at sf0.1 without relying on stats);
  *  - `file:` through [[NioLocalFileSystem]] (no `chmod` process per
  *    created file or dir when the native-hadoop library is absent).
  *
  * Two more settings cut the fixed cost every lake commit and read
  * pays; [[getOrCreate]] applies them, so the test session gets them
  * as well:
  *  - file listing stays on the driver. Past
  *    `parallelPartitionDiscovery.threshold` (32) root paths or
  *    subdirectories Spark lists with a job of one task per directory,
  *    which turned a raw table's read into a 33-task job at its 33rd
  *    hourly commit (318 ms of job time and 775 ms of task
  *    deserialization, traced on a 4-core VM). In `local[N]` such a job
  *    reads the same disk from the same JVM and only adds a conf
  *    deserialization per task. Lake reads no longer list through
  *    Spark at all (they plan from `pipeline.LakeMeta.TableState`'s own
  *    listing), so the threshold now serves non-lake reads only;
  *  - the Hadoop conf carries no `yarn-default.xml` entries. This
  *    engine never starts a YARN client, but those 520 entries were
  *    half of the 1,103-entry conf (113 KB serialized, 8.9 ms to
  *    deserialize on one warm thread of a 4-core VM) that every write
  *    and listing task deserializes and every parquet file open copies
  *    into a `JobConf`; without them it is 584 entries, 57 KB and
  *    4.0 ms. */
object Sessions {
  private[graft] val YarnDefaults = "yarn-default.xml"

  def build(cpus: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // r16 NOTE — spark.sql.join.preferSortMergeJoin=false (guide §9)
      // was measured engine-wide at ×100 and REJECTED: the fact⋈fact
      // rollups won big (waiting_suppliers 13.3→8.0 s, segment_revenue
      // 15.4→10.9 s) but queries whose downstream operators reuse the
      // sort-merge ordering regressed worse (window_suite 2.5→5.1,
      // neardup_survivors 3.0→7.1, dedup_cc 3.0→4.5). The two winners
      // carry a stats-gated SHUFFLE_HASH hint at the operator instead.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // static conf, so it must be set at build time: the thrift
      // endpoint (Serve / SqlEndpoint) serves the owning session's
      // registered tables only in singleSession mode — without it each
      // JDBC connection gets an isolated newSession() that cannot see
      // them (TABLE_OR_VIEW_NOT_FOUND for every announced table)
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = getOrCreate(b)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `b.getOrCreate()` with driver-side listing and a Hadoop conf
    * without YARN defaults (see above). */
  def getOrCreate(b: SparkSession.Builder): SparkSession = {
    val s = b.config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue)
      .getOrCreate()
    // Registering a new default resource makes Hadoop reload every
    // conf, which would bring the entries back. Building the shared
    // state loads the file systems (the HDFS client registers the hdfs
    // resources) and `JobConf`'s class init registers the mapred and
    // yarn ones, so both run first.
    val shared = GraftSql.sharedHadoopConf(s)
    new org.apache.hadoop.mapred.JobConf(false)
    dropYarnDefaults(s.sparkContext.hadoopConfiguration)
    // the shared state's clone, which `sessionState.newHadoopConf()`
    // copies for every read and write
    dropYarnDefaults(shared)
    s
  }

  private def dropYarnDefaults(conf: Configuration): Unit =
    conf.iterator().asScala.map(_.getKey).toList
      .filter(k => Option(conf.getPropertySources(k)).exists(_.forall(_ == YarnDefaults)))
      .foreach(conf.unset)
}
