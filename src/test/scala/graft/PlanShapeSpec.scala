package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression pins for the physical-plan properties the 100 TB story
  * depends on (SCALING.md). These are the assertions a plan review
  * would make by eye — encoded so a refactor cannot silently trade a
  * pushdown or broadcast away. */
class PlanShapeSpec extends AnyFunSuite with SharedSpark {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("filter_project pushes the predicate and prunes columns at the scan") {
    val p = plan("filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"predicate not pushed:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("o_orderdate"),
      s"unused columns not pruned:\n$p")
  }

  test("join_orders_customers broadcasts the dimension side") {
    val p = plan("join_orders_customers")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join must not SMJ:\n$p")
  }

  test("ngram_counts plans global top-20 as TakeOrderedAndProject, not a sort") {
    val p = plan("ngram_counts")
    assert(p.contains("TakeOrderedAndProject"), s"expected bounded top-k:\n$p")
  }

  test("tfidf_top_terms has no window over the 5-value lang key") {
    val p = plan("tfidf_top_terms")
    assert(!p.contains("Window"), s"low-cardinality window reintroduced:\n$p")
  }

  test("sessionize_events' two window frames share one exchange") {
    val p = plan("sessionize_events")
    val nWindows = "\\bWindow\\b".r.findAllIn(p).length
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nWindows >= 2, s"expected lag + running-sum windows:\n$p")
    // windows (both on user_id) reuse one exchange; the final group-by
    // on user_id reuses the same partitioning, leaving exactly one
    assert(nExchanges == 1, s"expected exactly 1 hash exchange, got $nExchanges:\n$p")
  }

  test("similarity scoring paths carry no Scala UDF") {
    Seq("similar_topk", "similar_ann_ivf").foreach { q =>
      val p = plan(q)
      assert(!p.contains("ScalaUDF"), s"$q fell back to a UDF:\n$p")
    }
  }

  test("intersect_except_keys: 2 scans, one hash exchange") {
    val p = plan("intersect_except_keys")
    // round-2's separate intersect/except branches scanned each table
    // twice (4 scans, 4 exchanges); the union+flag-agg rewrite is 2
    // scans around a single key exchange
    val nScans = "Scan parquet".r.findAllIn(p).length
    assert(nScans == 2, s"expected 2 parquet scans, got $nScans:\n$p")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1, s"expected exactly 1 hash exchange, got $nHash:\n$p")
  }

  test("multi-probe LSH broadcasts the probe side, never the corpus") {
    val p = plan("similar_ann_multiprobe")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast bucket join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"candidate side must not shuffle or cross:\n$p")
  }

  test("minhash_recall: probe sides broadcast, the corpus shingle explode never shuffle-joins") {
    val p = plan("minhash_recall")
    // four pinned broadcasts (probe shingles, intersection counts ×2
    // over the size lookups, probe bands + bucket list): if any
    // flipped to a shuffle join, the corpus-scale shingle explode or
    // size frame would exchange to answer a 64-probe audit — the
    // round-11 verdict finding
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a probe-side join fell off the broadcast path:\n$p")
    assert(!p.contains("CartesianProduct"), s"audit went quadratic:\n$p")
  }

  test("neardup cluster resolution has no cartesian and no full-table window") {
    val p = plan("neardup_clusters")
    assert(!p.contains("CartesianProduct"), s"pair graph went quadratic:\n$p")
    // the cluster size is a window count over the label: every window
    // must be partitioned, never one funnelled into a single partition
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.forall(_.matches(""".*Window \[.*\], \[[^\]]+\].*""")) &&
      !p.contains("SinglePartition"), s"full-table window in CC plan:\n$p")
  }

  test("multi_distinct_agg plans via Expand in one pipeline, not per-clause scans") {
    val p = plan("multi_distinct_agg")
    assert(p.contains("Expand"), s"expected Expand-planned multi-distinct:\n$p")
    val nScans = "Scan parquet".r.findAllIn(p).length
    assert(nScans == 1, s"expected a single scan, got $nScans:\n$p")
  }

  test("setops_all_counts: 2 scans, one hash exchange (same shape as the scalar set ops)") {
    val p = plan("setops_all_counts")
    val nScans = "Scan parquet".r.findAllIn(p).length
    assert(nScans == 2, s"expected 2 parquet scans, got $nScans:\n$p")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1, s"expected exactly 1 hash exchange, got $nHash:\n$p")
  }

  test("corpus_balance_sample ranks via the bounded aggregator, not a 5-partition window") {
    val p = plan("corpus_balance_sample")
    assert(!p.contains("Window"), s"low-cardinality window reintroduced:\n$p")
  }

  test("length_trim_filter broadcasts the one-row percentile band over a narrow second pass") {
    val p = plan("length_trim_filter")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"band must be broadcast, not shuffled:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus side must stay narrow:\n$p")
  }

  test("sql_grouping_sets plans via Expand over a single scan, one exchange") {
    val p = plan("sql_grouping_sets")
    assert(p.contains("Expand"), s"expected Expand-planned grouping sets:\n$p")
    val nScans = "Scan parquet".r.findAllIn(p).length
    assert(nScans == 1, s"expected a single scan, got $nScans:\n$p")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1, s"expected exactly 1 hash exchange, got $nHash:\n$p")
  }

  test("locf_gap_fill: both window functions share one exchange") {
    val p = plan("locf_gap_fill")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1, s"expected exactly 1 hash exchange, got $nHash:\n$p")
    assert(!p.contains("Join"), s"gap fill must not plan a join:\n$p")
  }

  test("sql_local_supplier_volume: filters pushed, joins hashed, one exchange") {
    val p = plan("sql_local_supplier_volume")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date range not pushed to the orders scan:\n$p")
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"region filter not pushed to the region scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"six-table chain must stay hashed:\n$p")
    // at this SF every join broadcasts; the only hash exchange is the
    // final group-by on n_name
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1, s"expected exactly 1 hash exchange, got $nHash:\n$p")
  }

  test("vocab_coverage: bounded top-k vocab broadcast back, never a global sort") {
    val p = plan("vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab selection must be bounded top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the k-row vocab must broadcast over the token stream:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token stream must not shuffle-join:\n$p")
  }

  test("orc_roundtrip_agg scans ORC and prunes to the two referenced columns") {
    val p = plan("orc_roundtrip_agg")
    assert(p.contains("Scan orc"), s"expected an ORC scan:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("doc_id"),
      s"unused columns not pruned from the ORC scan:\n$p")
  }

  test("partition_prune_agg: lang filter lands in PartitionFilters, not a data filter") {
    val p = plan("partition_prune_agg")
    // planning-time directory pruning: the predicate must appear as a
    // partition filter on the scan; a post-scan Filter(lang = en)
    // would mean every partition's files were read
    assert(p.contains("PartitionFilters") && p.contains("= en"),
      s"lang predicate did not become a partition filter:\n$p")
    assert(!"Filter .*lang".r.findFirstIn(p).isDefined,
      s"lang must not survive as a data filter:\n$p")
  }

  test("sql_order_priority_check: non-equi EXISTS decorrelates to a filtered semi join") {
    val p = plan("sql_order_priority_check")
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    // the non-equi correlation rides the join as a condition — never a
    // per-outer-row subquery, never a nested loop
    assert(p.contains("l_shipdate") && p.contains("INTERVAL"),
      s"non-equi correlated predicate missing from the join:\n$p")
    assert(!p.contains("NestedLoop"), s"decorrelation fell back to NLJ:\n$p")
  }

  test("sql_waiting_orders: EXISTS + NOT EXISTS on one fact decorrelate to semi + anti joins") {
    val p = plan("sql_waiting_orders")
    // Q21's signature: both subqueries correlate to the SAME lineitem
    // fact with a suppkey inequality riding the orderkey equality —
    // they must become one semi and one anti hash join, never a
    // per-outer-row subquery or a nested loop (quadratic in lineitem)
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
    assert(!p.contains("NestedLoop"), s"decorrelation fell back to NLJ:\n$p")
    // three lineitem branches (outer + two subqueries) is the required
    // shape; more would mean a subquery was duplicated by the planner
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 6, s"unexpected scan duplication ($scans scans):\n$p")
  }

  test("sql_lateral_topk: correlated LIMIT decorrelates, then runs on the heap operator") {
    // Catalyst decorrelates the per-customer LIMIT into a row_number
    // window; since r7 TopKWindowRewrite picks THAT shape up too, so
    // the LATERAL query chains decorrelation -> rewrite -> custom exec
    // (sort+window deleted, never a per-row subquery)
    val p = plan("sql_lateral_topk")
    assert(p.contains("TopKPerKey "),
      s"decorrelated rank window not rewritten onto the heap operator:\n$p")
    assert(!p.contains("Window") && !p.contains("NestedLoop"),
      s"window machinery or nested loop survived:\n$p")
  }

  test("dpp_join_agg: runtime subquery prunes fact partitions via the batch broadcast") {
    val p = plan("dpp_join_agg")
    // the batch's langs are unknown at plan time — pruning must be the
    // injected dynamic subquery on the scan's partition filters, fed by
    // the reused broadcast, never a full-scan-then-join
    assert(p.contains("dynamicpruningexpression"),
      s"dynamic partition pruning not injected:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"batch dim must broadcast:\n$p")
  }

  test("csv/json round-trip scans prune to the referenced columns") {
    // CSV/JSON readers parse only selected fields — the fidelity agg
    // touches text/lang/tricky, so source and n_chars must be pruned.
    // json additionally stays a plain (splittable) scan; csv pays
    // multiLine for the embedded-newline certificate by design.
    for (q <- Seq("csv_roundtrip_agg", "json_roundtrip_agg")) {
      val p = plan(q)
      assert(p.contains("ReadSchema"), s"$q: no file scan in plan:\n$p")
      assert(!p.contains("n_chars"),
        s"$q: unused columns not pruned from the scan:\n$p")
    }
  }

  test("bucketed_join_rollup: SMJ + aggregate on the bucket key, zero hash exchanges") {
    val p = plan("bucketed_join_rollup")
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 0, s"bucketing must eliminate every exchange, got $nHash:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan did not report bucketed read:\n$p")
  }

  test("sql_forecast_revenue: all three range predicates reach the scan, no join") {
    val p = plan("sql_forecast_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"),
      s"range predicates not pushed to the scan:\n$p")
    assert(!p.contains("Join"), s"scan-filter-aggregate must not plan a join:\n$p")
  }

  test("sql_nation_volume_shipping: dimension chain broadcasts, nation pair filter pushes per side") {
    val p = plan("sql_nation_volume_shipping")
    // five broadcasts (supplier, orders, customer, nation×2) — lineitem
    // is the only unbroadcast side, so nothing big-big shuffles here
    val nBhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBhj == 5, s"expected 5 broadcast joins, got $nBhj:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"),
      s"dimension chain fell off the broadcast path:\n$p")
    // the Q7 pair disjunction cannot pick a nation per side, but its
    // per-side implication (n_name ∈ {N1,N2}) must reach BOTH scans
    val nOr = "Or\\(EqualTo\\(n_name".r.findAllIn(p).length
    assert(nOr >= 2, s"per-side nation disjunction not pushed to both scans:\n$p")
  }

  test("sql_small_quantity_revenue: correlated scalar AVG decorrelates to one aggregate") {
    val p = plan("sql_small_quantity_revenue")
    // the per-part average must be ONE per-partkey hash aggregate
    // joined back (executed per group), never a per-outer-row subquery
    assert(p.contains("avg(l_quantity)"),
      s"decorrelated per-part aggregate missing:\n$p")
    assert(p.contains("HashAggregate(keys=[l_partkey"),
      s"average not grouped by partkey:\n$p")
    assert(!p.contains("NestedLoop"), s"decorrelation fell back to NLJ:\n$p")
  }

  test("sql_disjunctive_revenue: OR-of-ANDs keeps the hashed join, implied filters push per side") {
    val p = plan("sql_disjunctive_revenue")
    // the partkey equality is a top-level conjunct: the join must stay
    // hashed with the disjunction as a post-join condition — a plan
    // that folds the OR into the join condition degrades to NLJ
    assert(p.contains("BroadcastHashJoin"), s"equi-join not hashed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"disjunction broke the hashed join:\n$p")
    // Catalyst's derived per-side disjunctions must reach both scans
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"implied quantity disjunction not pushed to lineitem:\n$p")
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"implied brand/size disjunction not pushed to part:\n$p")
  }

  test("sql_dormant_customer_balance: NOT EXISTS anti-joins, scalar threshold pushes to the scan") {
    val p = plan("sql_dormant_customer_balance")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
    assert(!p.contains("NestedLoop"), s"anti join fell back to NLJ:\n$p")
    // the uncorrelated scalar average is computed once and pushed into
    // the customer scan as a runtime filter — the strongest shape: the
    // scan itself skips below-threshold row groups
    assert(p.contains("GreaterThan(c_acctbal,ScalarSubquery"),
      s"scalar threshold not pushed to the parquet scan:\n$p")
  }

  test("sql_market_share: 8-relation chain stays hashed, share is one pass") {
    val p = plan("sql_market_share")
    // the deepest chain on the board must never fall off the hashed
    // path, and the share must be CASE-in-SUM — one aggregate over one
    // join tree, no self-join of the chain
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"join chain fell off the hashed path:\n$p")
    val nAgg = "HashAggregate".r.findAllIn(p).length
    assert(nAgg == 2, s"share must be one partial+final aggregate pair, got $nAgg:\n$p")
  }

  test("sql_returned_item: top-20 via TakeOrderedAndProject, filters reach the scans") {
    val p = plan("sql_returned_item")
    assert(p.contains("TakeOrderedAndProject"),
      s"ORDER BY + LIMIT must plan bounded top-k:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"top-20 must not globally sort:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed to the lineitem scan:\n$p")
  }

  test("sql_top_supplier: max-over-aggregate stays hashed, lineitem scanned at most twice") {
    val p = plan("sql_top_supplier")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"scalar-subquery filter fell off the hashed path:\n$p")
    // the revenue aggregate feeds both the join and its own max: the
    // fact may be scanned once per consumer, never more
    val li = "lineitem\\.parquet".r.findAllIn(p).length
    assert(li <= 2, s"lineitem scanned $li times:\n$p")
  }

  test("sql_min_cost_supplier decorrelates the min-cost subquery to a hashed aggregate") {
    val p = plan("sql_min_cost_supplier")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"correlated min subquery executed per outer row:\n$p")
    // the correlated chain decorrelates to ONE per-partkey min
    // aggregate joined back — never a subquery launch per part
    assert(!p.toLowerCase.contains("subqueryexec"),
      s"min-cost subquery survived decorrelation:\n$p")
  }

  test("sql_product_profit pushes the LIKE into the part scan and broadcasts part") {
    val p = plan("sql_product_profit")
    assert(p.contains("StringContains(p_name,red)"),
      s"LIKE not pushed to the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part slice not broadcast:\n$p")
    // lineitem is the only big table: it must be scanned exactly once
    val li = "lineitem\\.parquet".r.findAllIn(p).length
    assert(li == 1, s"lineitem scanned $li times:\n$p")
  }

  test("sql_important_stock: both granularities hashed, threshold a scalar broadcast") {
    val p = plan("sql_important_stock")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"global-total threshold fell off the hashed path:\n$p")
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected grouped + global aggregates, got $aggs:\n$p")
  }

  test("sql_shipmode_priority: one join pass, date window pushed to the fact scan") {
    val p = plan("sql_shipmode_priority")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"date window not pushed to the lineitem scan:\n$p")
    val li = "lineitem\\.parquet".r.findAllIn(p).length
    assert(li == 1, s"the dual CASE pivot must scan lineitem once, got $li:\n$p")
  }

  test("sql_parts_supplier_count: NOT IN hashed into the distinct pipeline, part filters pushed") {
    val p = plan("sql_parts_supplier_count")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"supplier exclusion fell off the hashed path:\n$p")
    assert(p.contains("Not(EqualTo(p_brand,Brand#23))"),
      s"brand exclusion not pushed to the part scan:\n$p")
  }

  test("sql_potential_promotion: three nesting levels, all hashed") {
    val p = plan("sql_potential_promotion")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"nested-IN chain fell off the hashed path:\n$p")
    // the correlated half-sum threshold decorrelates to an aggregate,
    // never a per-outer-row subquery launch
    assert(!p.toLowerCase.contains("subqueryexec"),
      s"correlated threshold survived decorrelation:\n$p")
  }

  test("sql_exists_not_in plans NOT IN as a hashed anti join, not a nested loop") {
    val p = plan("sql_exists_not_in")
    // without the IS NOT NULL guard in the subquery, three-valued NOT IN
    // semantics force a BroadcastNestedLoopJoin ExistenceJoin — every
    // customer row vs every broadcast big-order row, quadratic at scale
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"NOT IN fell back to the null-aware nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected hashed semi/anti joins:\n$p")
  }

  test("sql_shipping_priority: top-10 via TakeOrderedAndProject, no global sort") {
    val p = plan("sql_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"ORDER BY + LIMIT over joins must plan bounded top-k:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"top-10 must not globally sort every group:\n$p")
  }

  test("sql_large_volume_customer: HAVING subquery joins hashed, aggregate runs once") {
    val p = plan("sql_large_volume_customer")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IN over the aggregated subquery fell off the hashed path:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must plan bounded top-k:\n$p")
  }

  test("interp_gap_fill: four window fns over two frames share one exchange, no join") {
    val p = plan("interp_gap_fill")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1, s"expected exactly 1 hash exchange, got $nHash:\n$p")
    assert(!p.contains("Join"), s"interpolation must not plan a join:\n$p")
  }

  test("outlier_zscore: 5-row stats frame broadcasts over the second pass") {
    val p = plan("outlier_zscore")
    assert(p.contains("BroadcastHashJoin"),
      s"per-type stats must broadcast back, never shuffle-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"stats join fell to SMJ:\n$p")
  }

  test("sql_promo_effect: date range pushed to the fact scan, part broadcast, one pass") {
    val p = plan("sql_promo_effect")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"shipdate range must reach the lineitem scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part side must broadcast:\n$p")
    // CASE-in-SUM means ONE aggregate over ONE join — never a self-join
    // or second scan of lineitem
    assert("Scan parquet .*lineitem".r.findAllIn(p).length <= 1,
      s"conditional aggregate must not rescan the fact side:\n$p")
  }

  test("skew_salted_join: the salt reaches the shuffle keys of a non-broadcast hash join") {
    val p = plan("skew_salted_join")
    // the production scenario is a dim above the broadcast threshold:
    // the join must be a shuffled hash join whose keys carry _salt —
    // a broadcast (salt pointless) or a salt-free shuffle (hot key
    // still serialized onto one reducer) both void the mitigation
    assert(p.contains("ShuffledHashJoin"), s"expected a shuffled hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"dim must not broadcast here:\n$p")
    assert(p.contains("_salt"), s"salt column missing from the plan:\n$p")
    assert(p.contains("pmod") && p.contains("SPARK_PARTITION_ID"),
      s"fact salt must be the retry-stable partition-id mix:\n$p")
    assert(p.contains("explode"), s"dim side must replicate via explode:\n$p")
  }

  test("AQE splits a skewed fact-fact join (skew=true) with results unchanged") {
    // the join half of the skew story (skew_salted_sum covers the
    // aggregate half): one key owns 50% of the left fact's rows, both
    // sides too big to broadcast, so the hot shuffle partition would
    // serialize one task. AQE's OptimizeSkewedJoin must split it —
    // observable as skew=true on the SMJ in the FINAL adaptive plan —
    // and splitting must be semantically invisible (results match the
    // analytic expectation). Thresholds are lowered to make test-scale
    // bytes trip the same detector production trips at gigabytes.
    import org.apache.spark.sql.functions._
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      // enough reducers that the non-hot median is small relative to
      // the hot partition — with the suite's 4, the hot partition was
      // only ~4x the median and under the byte threshold once the
      // all-zero key column compressed away in the shuffle
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val n = 400000L
      // even ids collapse onto key 0 (the hot key); odd ids stay
      // unique. v1 (varying longs) rides along so the hot partition's
      // shuffle bytes don't compress down to a run of zeros.
      val fact1 = spark.range(n).select(
        when(col("id") % 2 === 0, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v1"))
      val fact2 = spark.range(n).select(col("id").as("k"), (col("id") * 2).as("v2"))
      val agg = fact1.join(fact2, "k")
        .agg(count(lit(1)).as("cnt"), sum("v1").as("s1"), sum("v2").as("s2"))
      val row = agg.collect().head
      // every fact1 row matches exactly one fact2 row: v1 sums over
      // all ids = n(n−1)/2; hot rows join v2=0, odd id i joins v2=2i
      // → s2 = 2·(n/2)² = n²/2
      assert(row.getLong(0) == n, s"join lost or duplicated rows: $row")
      assert(row.getLong(1) == n * (n - 1) / 2, s"wrong left sum: $row")
      assert(row.getLong(2) == n * n / 2, s"wrong join sum: $row")
      val p = agg.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed join partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("asof_next_purchase shares the forward plan shape: one exchange, one window, no join") {
    val p = plan("asof_next_purchase")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1, s"expected exactly 1 hash exchange, got $nHash:\n$p")
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
  }

  test("merge_cdc_tombstones: survivor election on one key exchange, no join, no window") {
    val p = plan("merge_cdc_tombstones")
    // base + 3 feed versions union into ONE hashpartitioning(k)
    // exchange for the max(struct) election; the status rollup adds
    // its own small exchange — anything beyond that means the union
    // re-shuffled per branch
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash <= 2, s"expected <=2 hash exchanges (election + rollup), got $nHash:\n$p")
    assert(!p.contains("SortMergeJoin"), s"merge must not SMJ — union + agg only:\n$p")
    assert(!p.contains("Window"), s"survivor election must be agg, not window:\n$p")
  }

  test("bpe pair counting aggregates partially before the shuffle") {
    val vocab = text.CorpusOps.bpeInitVocab(Tables.load(spark, sfDir, "documents"))
    val p = text.CorpusOps.bpePairsOf(vocab)
      .queryExecution.executedPlan.toString
    // partial_sum before the exchange = map-side combine on the pair key
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"pair counts must partially aggregate before shuffling:\n$p")
  }
}
