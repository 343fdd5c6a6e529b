package graft.pipeline

/** Second-JVM half of the CROSS-PROCESS commit-lock receipt (r13
  * verdict Next #4): loops facade CREATE-OR-REPLACE CTAS commits on
  * `raw.race_xp` in its own SparkSession while the spawning JVM
  * (ThriftMultiProbe) races V2 staged CTAS commits on the same table
  * through the same warehouse. Both surfaces funnel into
  * [[TableCommit.commitGeneration]], so the race exercises the
  * FILE-LOCK half of `withCommitLock` — the JVM monitor cannot
  * serialize two processes. The invariant asserted by the spawner:
  * the final table is entirely one writer's generation behind a
  * healthy pointer, with zero staging residue.
  *
  * args: warehouse dir, tag, iterations. Prints XPROC_OK on success.
  */
object XprocCtasProbe {
  def main(args: Array[String]): Unit = {
    val wh = args(0); val tag = args(1); val iters = args(2).toInt
    val spark = graft.Sessions.build("2")
    try {
      import spark.implicits._
      val cat = new LakeCatalog(spark, wh)
      val batch = (1L to 4L).map(i => (i, tag)).toDF("id", "tag")
      (1 to iters).foreach(_ => cat.createOrReplace("raw.race_xp", batch))
      println("XPROC_OK")
    } finally spark.stop()
    sys.exit(0)
  }
}
