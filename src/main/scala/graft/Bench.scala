package graft

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is fully materialized through the `noop` V2 sink so the
  * measured time includes every projected column (a bare .count() would
  * let Catalyst prune the computed columns and understate the work).
  *
  * Timing: queries whose first (cold, codegen-compiling) run is already
  * sub-second report that first run — re-running ~100 trivial queries
  * would double suite time for no information. Slower queries run twice
  * and report the second, steady-state time (the right comparison for a
  * long-running engine, where per-query warmup amortizes to nothing).
  * BENCH_FULL.json's `reported_run` says which run each query reports
  * (1 = cold, 2 = steady state), since a first run near 1 s switches
  * between the two on timing noise.
  *
  * Every run goes through [[QueryRunner]] (cap, cancel, session
  * rebuild, cache sweep, cheapest-first order, shuffle bytes). What is
  * Bench's own:
  *  - the cap is SPARK_GRAFT_BENCH_CAP_SEC (default 60 s); a breached
  *    or failed query reports -1;
  *  - BENCH_FULL.json is rewritten after EVERY query (the round-3
  *    bench died at rc=124 with nothing written because results only
  *    materialized at the end);
  *  - the compact stdout line is re-printed every 10 queries, so a
  *    harness kill still leaves a parseable last line with partials.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val capSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CAP_SEC", "60").toInt

    // Every unpartitioned window in this library runs over a
    // DELIBERATELY collapsed frame (calendar-bounded daily series,
    // NDV-bounded value distributions — stated in the scaladoc at each
    // operator family); WindowExec's generic single-partition warning
    // is sized for fact-scale frames and would print hundreds of times
    // per full run, drowning the real warnings the tail exists to
    // surface (the r7 tail caught an actual WindowExec regression that
    // way — on a NEW operator, during verify, where the logger stays
    // at WARN). The suppression is scoped PER MEASURED QUERY (inside
    // run(), via LogScope) rather than once for the JVM, so bench-only
    // code paths — the warmup, fixture builds, session rebuilds —
    // keep the signal and a genuine fact-scale single-partition window
    // regression outside a measured window still prints.
    val windowExecLogger = "org.apache.spark.sql.execution.window.WindowExec"

    // Per-query shuffle-volume accounting (QueryRunner's listener) —
    // the direct "which query would bottleneck the interconnect at
    // 100 TB" signal, reported alongside seconds in BENCH_FULL.json and
    // reset at the start of every measured run so the number matches
    // the reported (steady-state) time.
    val runner = new QueryRunner("bench", capSec, () => Sessions.build(cpus))

    /** One bounded run: construction + noop materialization. A failed
      * or breached run reports -1 (unless the worker finished during
      * the cancel grace). Returns (seconds, breached). */
    def runOnce(name: String): (Double, Boolean) = {
      // start marker on stderr: lets any DAGScheduler warning in the
      // log (e.g. >1 MB task binaries) be attributed to its query
      System.err.println(s"[bench] start $name")
      val r = runner.run(name)(s => SparkEntry.queries(name)(s, sfDir)
        .write.format("noop").mode("overwrite").save())
      (if (r.value.isRight) r.seconds else -1.0, r.breached)
    }

    /** (seconds, which run they are: 1 = cold, 2 = steady state). */
    def run(name: String): (Double, Int) = LogScope.withLevel(windowExecLogger,
        org.apache.logging.log4j.Level.ERROR) {
      val (t1, breached) = runOnce(name)
      if (breached || t1 < 1.0) (t1, 1) // breached, failed, or cheap: one run
      else (runOnce(name)._1, 2) // steady-state for heavy queries
    }

    // JVM / codegen / parquet-footer warmup (not measured)
    try SparkEntry.entry(runner.spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // The pipeline gate entries construct a fixture warehouse (3 ingest
    // ticks + CTAS rebuilds) rather than running a query over sfDir —
    // they belong to the correctness gate, not the throughput benchmark.
    val notQueries = Set("q_pipeline_mart", "q_pipeline_snapshots",
      "q_pipeline_asof", "q_pipeline_incmart", "q_pipeline_dbtrun",
      // r8 additions of the same kind: each builds (and for these
      // three, MUTATES) its own fixture warehouse per invocation
      "q_pipeline_rollback", "q_pipeline_upsert", "q_pipeline_evolution",
      "q_pipeline_clone",
      // r9: V2 path-mount reads of the same fixture warehouse
      "q_pipeline_v2read", "q_pipeline_v2asof",
      // r10: TableCatalog reads/writes of the same fixture warehouse
      "q_pipeline_catident", "q_pipeline_catasof", "q_pipeline_catwrite",
      "q_pipeline_catproc",
      // r11: crash-refusal fixture (plants + recovers its own warehouse)
      "q_pipeline_crashguard",
      // r11: forks the dbt-over-Thrift probe JVM (a fixture build —
      // ~20 s of JVM+metastore startup, zero sfDir work)
      "q_pipeline_thriftdbt",
      // r12: forks the multi-session isolation probe JVM (same kind)
      "q_pipeline_thriftmulti",
      // r13: write-audit-publish fixture (builds its own warehouse,
      // publishes one clean batch and refuses one dirty batch) + the
      // CDC change-feed read of the shared gate fixture
      "q_pipeline_wap", "q_pipeline_since",
      // r14: crash-injection fixture (builds + crashes + recovers its
      // own warehouse; zero sfDir work)
      "q_pipeline_ctasatomic",
      // r10: the incremental-MV LIFECYCLE gate (build→delta→refresh —
      // its cost is the rebuild); the serve path is benched as
      // q_mv_inc_query against the once-per-JVM refreshed fixture
      "q_mv_rewrite_inc")
    // optional args: bench only the named queries (local iteration aid)
    val wanted = args.toSet
    val todo = QueryRunner.costOrdered(SparkEntry.queries.keys.toSeq
      .filterNot(notQueries)
      .filter(n => wanted.isEmpty || wanted(n)))

    // Locale-pinned formatting: f"$v%.3f" is locale-sensitive (a
    // comma-decimal JVM locale would emit unparseable JSON).
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val reportedRun = scala.collection.mutable.Map.empty[String, Int]
    // Full per-query detail goes to a file (rewritten incrementally);
    // stdout gets ONE compact line per checkpoint. The harness captures
    // only the last ~2000 chars of stdout, so the printed line
    // restricts the per-query map to the headline subset.
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_FULL.json"))
    // Honest partials (ADVICE r5): a snapshot with -1 sentinels or an
    // unfinished run must be machine-detectable as such, not mistaken
    // for a full benchmark — so every emission carries the failed-query
    // count and a complete flag (all queries attempted AND none failed).
    def suffix(done: Boolean): String = {
      val failed = results.values.count(_ < 0)
      // an arg-restricted run (local iteration) is never "complete":
      // it must not overwrite the committed full-registry artifact
      // with a machine-flagged-complete subset
      val complete = done && failed == 0 && wanted.isEmpty &&
        results.size == todo.size
      s""""failed":$failed,"complete":$complete,"sf":"$sfDir"}"""
    }
    def writeFull(done: Boolean): Unit = {
      val total = results.values.filter(_ >= 0).sum
      val shuffles = results.keys.map { k =>
        val mb = runner.shuffleWriteBytes(k) / 1048576.0
        s""""$k":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(mb))}"""
      }.mkString(""""shuffle_write_mb":{""", ",", "},")
      val runs = results.keys.map(k => s""""$k":${reportedRun(k)}""")
        .mkString(""""reported_run":{""", ",", "},")
      val json = results.map { case (k, v) => s""""$k":${fmt(v)}""" }
        .mkString(
          s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{""",
          ",", s"""},$shuffles$runs${suffix(done)}""")
      try java.nio.file.Files.write(fullPath, json.getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] cannot write $fullPath: ${e.getMessage}") }
    }
    def printCompact(done: Boolean): Unit = {
      val total = results.values.filter(_ >= 0).sum
      val qs = headline.filter(results.contains)
        .map(k => s""""$k":${fmt(results(k))}""").mkString("{", ",", "}")
      println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,${suffix(done)}""")
    }

    todo.zipWithIndex.foreach { case (n, i) =>
      val (secs, which) = run(n)
      results(n) = secs
      reportedRun(n) = which
      writeFull(done = false)
      if ((i + 1) % 10 == 0) printCompact(done = false)
    }
    writeFull(done = true)
    printCompact(done = true)
    runner.spark.stop()
  }

  /** Headline queries for the compact stdout line — one per operator
    * family, heavy hitters included, sized so the JSON line stays well
    * under the harness's 2000-char stdout tail window. */
  private val headline: Seq[String] = Seq(
    "q_pricing_summary", "q_star_revenue", "q_segment_revenue",
    "q_top_customers", "q_semi_join", "q_anti_join", "q_promo_revenue",
    "q_filtered_agg", "q_daily_mart", "q_cube_mart", "q_percentiles",
    "q_window_suite", "q_running_total", "q_sessionize", "q_trailing_hour",
    "q_topk_custom", "q_asof_view", "q_range_errors", "q_salted_join",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_cc", "q_dedup_simhash",
    "q_neardup_survivors", "q_ngram_jaccard", "q_dup_spans",
    "q_knn_brute", "q_knn_ann", "q_knn_ivf", "q_embedding_neardup",
    "q_gram_matrix", "q_kmeans", "q_tfidf_top", "q_bm25",
    "q_token_stats", "q_corpus_profile", "q_lang_predictions",
    "q_quality_scores", "q_pagerank", "q_triangles",
    "q_math_funcs", "q_string_funcs", "q_date_funcs",
    // round-7 flagships
    "q_mv_rewrite", "q_waiting_suppliers", "q_knn_filtered",
    "q_join_estimate", "q_link_prediction", "q_attribution")
}
