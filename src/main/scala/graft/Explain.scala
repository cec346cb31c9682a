package graft

/** Plan auditor: prints the formatted physical plan of each named query
  * (default: a scale-critical subset) so shuffle/broadcast/pushdown shape
  * can be reviewed. `runMain graft.Explain [sfDir] [name ...]`
  */
object Explain {
  val headline: Seq[String] = Seq(
    "join_inner", "join_broadcast", "join_outer", "join_asof",
    "agg_group", "filter_pred", "topk", "window_rank",
    "partition_prune", "sorted_range_scan", "replace_by_key",
    "dedup_minhash", "dedup_ngram_jaccard", "sim_topk", "sim_topk_ivf",
    "agg_skew_salted", "text_termfreq",
    // round-3 scale-critical additions
    "sim_centroid", "profile_columns", "scd2_history",
    "join_interval_bucketed", "join_asof_nearest", "multimodal_near_dup",
    "event_interpolate", "agg_quantiles_multi",
    // round-5: plan-level as-of, in-plan ML, corpus line dedup, decay kernel
    "join_asof_plan", "ml_kmeans", "event_markov_attribution",
    "pipeline_line_dedup", "window_time_decay", "embed_correlation",
    // round-6: SQL surfaces for both plan nodes, composed corpus build,
    // sketch rolling uniques, semantic dedup
    "sql_asof", "sql_range_join", "pipeline_end_to_end",
    "event_rolling_uniques_approx", "dedup_semantic")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else headline
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
