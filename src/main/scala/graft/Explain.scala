package graft

/** Plan-audit tool: prints the physical plan of the named SparkEntry
  * queries (default: the flagship joins/aggregates) against sf0.01.
  * Used to verify the scale-critical plan properties — column-pruned
  * `ReadSchema`, `PushedFilters` reaching the parquet scan, broadcast
  * joins on dimension tables, partial+final HashAggregate, and
  * TakeOrderedAndProject fusion for top-k.
  *
  *   sbt "runMain graft.Explain [queryName...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("4")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_star_revenue", "q_pricing_summary", "q_filtered_agg",
        "q_semi_join", "q_top_customers", "q_dedup_minhash", "q_knn_brute",
        "q_bloom_semi", "q_zscore_outliers", "q_topk_custom",
        // round-7 flagships: MV substitution (plan must scan the
        // summary, not the fact table), the folded Q21 (ONE orderkey
        // shuffle), and filtered vector search (broadcast + TopK)
        "q_mv_rewrite", "q_waiting_suppliers", "q_knn_filtered",
        // round-8 flagships: pure-pushdown Q6 (every filter at the
        // scan), join elimination (the plan must contain NO customer
        // scan), and the alphabet-bounded ER blocking (one
        // variant-keyed ObjectHashAggregate shuffle)
        "q_forecast_revenue", "q_join_elim", "q_entity_match",
        // round-8 second-session flagships: NB scoring (vocab-bounded
        // broadcast model, map-side fan-out), the reservoir sketch
        // (one partial-merged aggregate, no per-group sort), and the
        // bounded-side-broadcast non-equi joins (spine must BuildLeft)
        "q_naive_bayes", "q_sample_quantiles", "q_stickiness")
    // r15: FORMATTED is the audit mode (numbered operators, per-node
    // details incl. PushedFilters/ReadSchema); SIMPLE remains available
    // via SPARK_GRAFT_EXPLAIN_MODE=simple for the legacy flagship sweep.
    val mode =
      if (sys.env.get("SPARK_GRAFT_EXPLAIN_MODE").contains("simple"))
        org.apache.spark.sql.execution.SimpleMode
      else org.apache.spark.sql.execution.FormattedMode
    for (n <- names) {
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        mode))
    }
    spark.stop()
  }
}
