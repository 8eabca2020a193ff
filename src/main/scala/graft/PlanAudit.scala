package graft

import org.apache.spark.sql.SparkSession

/** Prints formatted plans for the load-bearing queries so shuffle
  * count, pushdown, and broadcast decisions can be audited (the
  * "is this the plan you'd want at 100 TB" check). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    // the CANONICAL session (Sessions.builder), extensions included:
    // a bare builder has no GraftExtensions, so the queries that need
    // an injected strategy/rule (topk_per_key_exec, topk_window_auto,
    // range_join_auto) failed planning with "No plan for
    // TopKPerKeyNode" — which killed the main and silently cut every
    // entry after them from the audit output
    val spark = Sessions.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // default sf0.001 keeps the audit instant; the optimization rounds
    // audit at the bench SF instead (broadcast/AQE decisions are
    // size-dependent) — override via SPARK_GRAFT_SF_DIR
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "filter_project", "join_orders_customers", "wordcount_total",
      "group_agg_sum", "anti_join_no_big_orders", "minhash_neardup",
      "similar_topk", "topk_per_group", "embedding_neardup",
      "similar_ann_ivf", "sessionize_events", "tfidf_top_terms",
      "ngram_counts", "outer_join_order_counts",
      // round 3
      "neardup_clusters", "training_set_select_neardup",
      "similar_ann_multiprobe", "intersect_except_keys",
      "eval_decontamination", "skew_salted_sum", "fuzzy_match_prefix",
      // round 4
      "sql_exists_not_in", "sql_local_supplier_volume",
      "bucketed_join_rollup", "substring_dup_stats", "locf_gap_fill",
      // round 5
      "substring_dup_stats_hashed", "sql_shipping_priority",
      "sql_large_volume_customer", "sql_promo_effect",
      "csv_roundtrip_agg", "json_roundtrip_agg", "partition_prune_agg", "sequence_packing",
      "quality_decile_bins", "bpe_pair_counts", "merge_upsert_orders",
      "eval_decontamination_bloom",
      // round 7
      "sql_waiting_orders", "skew_salted_join",
      "inverted_index", "cooccurrence_pmi",
      "sql_min_cost_supplier", "sql_potential_promotion",
      "topk_per_key_exec", "topk_window_auto",
      // round 11
      "minhash_recall", "snapshot_read_asof",
      "knn_graph_lsh", "similar_ann_ivfpq",
      "knn_graph_recall", "snapshot_expire",
      // round 13: the pair-bound slice twins (the probe-restricted
      // plans must stay broadcast-shaped like minhash_recall's) and
      // the index-retention verb
      "minhash_neardup_slice", "neardup_clusters_slice",
      "knn_graph_lsh_slice", "ingest_dedup_fold_slice",
      "index_compact_slice", "index_expire",
      // round 14: the forced two-level quantizer census
      "hier_cluster_balance")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
