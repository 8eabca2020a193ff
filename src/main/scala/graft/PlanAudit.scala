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
      // relational and SQL
      "filter_project", "join_orders_customers", "group_agg_sum",
      "anti_join_no_big_orders", "topk_per_group", "outer_join_order_counts",
      "intersect_except_keys", "skew_salted_sum", "skew_salted_join",
      "sql_exists_not_in", "sql_local_supplier_volume", "sql_shipping_priority",
      "sql_large_volume_customer", "sql_promo_effect", "sql_waiting_orders",
      "sql_min_cost_supplier", "sql_potential_promotion",
      "bucketed_join_rollup", "locf_gap_fill", "sessionize_events",
      "partition_prune_agg", "merge_upsert_orders",
      "snapshot_read_asof", "snapshot_expire",
      // the injected top-k strategies
      "topk_per_key_exec", "topk_window_auto",
      // file sources
      "csv_roundtrip_agg", "json_roundtrip_agg",
      // text and corpus
      "wordcount_total", "tfidf_top_terms", "ngram_counts",
      "substring_dup_stats", "substring_dup_stats_hashed", "sequence_packing",
      "quality_decile_bins", "bpe_pair_counts", "inverted_index",
      "cooccurrence_pmi", "fuzzy_match_prefix",
      "eval_decontamination", "eval_decontamination_bloom",
      // near-dup and the index store (the slice twins must stay
      // broadcast-shaped like minhash_recall's)
      "minhash_neardup", "minhash_recall", "neardup_clusters",
      "training_set_select_neardup", "minhash_neardup_slice",
      "neardup_clusters_slice", "ingest_dedup_fold_slice",
      "index_compact_slice", "index_expire", "embedding_neardup",
      // ANN search and vector quantizers: every query of the family
      "similar_topk", "similar_ann_lsh", "similar_ann_multiprobe",
      "similar_ann_ivf", "similar_ann_ivfpq", "ann_recall", "mmr_diversify",
      "embedding_neardup_lsh", "knn_graph_lsh", "knn_graph_lsh_slice",
      "knn_graph_recall", "knn_bucket_audit", "semdedup_prune",
      "embedding_cluster_balance", "hier_cluster_balance",
      "embedding_drift_psi", "embedding_pq_codes",
      "embedding_pq_codes_indexed", "embedding_quantize")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
