package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables

/** Core relational operator set.
  *
  * Certifies the reference's framework dataflow (SURVEY.md §2a): source
  * scan (F1), project (F2), shuffle-by-key co-location (F4), sort (F6),
  * group-by-key (F7), user reduce (F8) — plus the operator categories the
  * reference lacks (filter, join, semi/anti join, window, set ops, date
  * functions), expressed with Spark built-ins so Catalyst handles
  * pushdown, pruning, partial aggregation and join strategy selection.
  *
  * Determinism notes (the driver hash-compares against DuckDB):
  *  - Double SUMs are order-dependent across engines, so every declared
  *    sum goes through DECIMAL(18,2) (exact, associative) and is cast back
  *    to DOUBLE for a stable schema. Test-data money columns carry two
  *    decimals, so the double→decimal cast is exact in both engines.
  *  - AVG is expressed as exact integer SUM / COUNT, never built-in avg.
  *  - Timestamps are never output raw (`events.ts` is ns in parquet;
  *    Spark truncates to µs while DuckDB keeps ns) — date outputs go
  *    through a yyyy-MM string format instead.
  */
object Relational {

  /** Group-by-key + count — the reference's sort/group/reduce path
    * (`WorkerServlet.java:450-495` + `ReduceThread.java:60-80`) as a
    * hash aggregate with map-side partials. */
  def groupCountByKey(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))

  /** Generalized user reduce body (F8): per-group sum. */
  def groupAggSum(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"),
        count(lit(1)).as("n_items"))

  /** F6 sort phase: global order by key. (The driver's compare is
    * order-insensitive; the query still certifies the operator.) */
  def sortByKey(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select("doc_id", "lang", "source")
      .orderBy("lang", "doc_id")

  /** Shuffle co-location contract (F4): equal keys meet exactly once. */
  def distinctKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events").select("event_type").distinct()

  /** Filter + projection — pushed down to the parquet scan by Catalyst
    * (the reference could only drop records inside user `map`). */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 400000.0)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** Multi-source input merge (F1/F5: all files + all workers' spools
    * concatenate) as an explicit UNION ALL. */
  def unionAllSources(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("key"))
    val lineitem = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("key"))
    orders.unionAll(lineitem).groupBy("key").agg(count(lit(1)).as("n"))
  }

  /** Inner join + aggregate. `customer` is tiny relative to `orders`
    * (1:10 at every SF, ~1.5 M rows at SF 100) — broadcast it so the
    * big side never shuffles. */
  def joinOrdersCustomers(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
    orders.join(broadcast(customer),
        orders("o_custkey") === customer("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
  }

  /** Anti join (NOT EXISTS): customers with no high-value order, per
    * segment. The filter on the right side is pushed to its scan before
    * the anti join; with AQE Spark broadcasts the (small) filtered build
    * side automatically. */
  def customersWithoutBigOrders(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val bigOrders = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 400000.0)
    customer.join(bigOrders,
        customer("c_custkey") === bigOrders("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_no_big_orders"))
  }

  /** Semi join (EXISTS): parts that appear in some lineitem. */
  def partsWithLineitems(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    val li = Tables.load(spark, dir, "lineitem")
    part.join(li, part("p_partkey") === li("l_partkey"), "left_semi")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"))
  }

  /** Top-k rows per group by (value desc, event_id asc tie-break).
    *
    * NOT a row_number window: `event_type` has 5 distinct values, so a
    * window partitioned on it would shuffle the ENTIRE table into 5
    * reducer partitions and sort each — pathological at scale. Instead a
    * [[BoundedTopK]] Aggregator with map-side partial merge: each input
    * partition reduces to ≤ k rows per key before the shuffle, so the
    * exchange carries k·partitions·keys rows total and the final merge
    * per key is O(k·partitions). Same green oracle. */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = new BoundedTopK[(Long, Double)](3,
      (a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).toColumn
    Tables.load(spark, dir, "events")
      .select("event_type", "event_id", "value")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(topk.name("top"))
      .toDF("event_type", "top")
      .select(col("event_type"), explode(col("top")).as("t"))
      .select(col("event_type"), col("t._1").as("event_id"),
        col("t._2").as("value"))
  }

  /** Running (cumulative) aggregate per user — exact via DECIMAL. */
  def runningSumPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType).as("running_value"))
  }

  /** RANGE window frame (vs the ROWS frame of `running_sum_per_user`):
    * per-user trailing-1-hour sum over event time in µs. RANGE frames
    * include all ORDER-BY peers, so equal timestamps aggregate
    * identically regardless of row order — deterministic by
    * construction even with ties. */
  def rangeFrameSum(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-hourUs, 0)
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"),
        col("value"))
      .select(col("event_id"), col("user_id"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType).as("trailing_1h"))
  }

  /** Scalar date function coverage: orders per month as a string key. */
  def ordersByMonth(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"))

  /** Grouping-sets coverage (ROLLUP) — the reference has nothing like it;
    * NULL group keys are mapped to a sentinel so the oracle hash matches
    * (Spark and DuckDB agree on ROLLUP null semantics, the sentinel just
    * makes that explicit and sort-stable). */
  def rollupOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("<all>")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("<all>")).as("o_orderpriority"),
        col("n"))

  /** Pivot: one column per event type (fixed column list so the plan
    * is static — at scale you never want a dynamic-pivot scan to infer
    * columns). Equivalent to per-type conditional counts. */
  def pivotEventsByDay(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Deterministic array aggregation: sorted distinct active days.
    * The collected set is emitted as a canonical comma-joined string, not
    * an array column — the driver's pandas row-sort cannot hash numpy
    * arrays, and a canonical string carries the
    * same information. */
  def collectDaysPerType(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd").as("day"))
      .groupBy("event_type")
      .agg(array_join(sort_array(collect_set(col("day"))), ",").as("days"),
        countDistinct(col("day")).as("n_days"))

  /** Cross join with a theta (non-equi) condition — the planner's
    * BroadcastNestedLoopJoin. Only ever sane when one side is tiny;
    * both sides here are bounded catalogs. */
  def thetaJoinRegions(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.load(spark, dir, "region")
    val nation = Tables.load(spark, dir, "nation")
    region.crossJoin(broadcast(nation))
      .filter(col("r_regionkey") =!= col("n_regionkey"))
      .select(col("r_name"), col("n_name"))
  }

  /** CUBE — all grouping-set combinations (rollup's superset). */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("<all>")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("<all>")).as("o_orderpriority"),
        col("n"))

  /** lag/lead window functions: per-user consecutive-event value deltas
    * (DECIMAL-exact so the per-user sum is order-independent). */
  def lagDeltaPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) -
          lag(col("value").cast(DecimalType(18, 2)), 1).over(w)).as("delta"))
      .groupBy("user_id")
      .agg(
        count(col("delta")).as("n_deltas"),
        sum(abs(col("delta"))).cast(DoubleType).as("sum_abs_delta"))
  }

  /** Navigation-function coverage: first_value / last_value /
    * nth_value over the full per-user partition frame (ROWS UNBOUNDED
    * PRECEDING..UNBOUNDED FOLLOWING — last_value under the DEFAULT
    * frame would read the current row, the classic footgun both
    * engines share), reduced to one row per user. Ordering includes
    * the unique event_id so every navigation target is deterministic. */
  def navFunctionsPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(spark, dir, "events")
      .select(col("user_id"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(w).as("last_type"),
        nth_value(col("event_type"), 2).over(w).as("second_type"))
      .distinct()
  }

  /** LOCF gap-fill (last observation carried forward) — the standard
    * time-series imputation: a sparse sensor/metric column filled from
    * the most recent non-null reading per key. Sparsity is synthesized
    * deterministically (click events report no value), then
    * `last(_, ignoreNulls = true)` over ROWS UNBOUNDED PRECEDING
    * fills forward; leading nulls stay null (nothing to carry). Both
    * window functions (row_number for the stable output seq + the
    * fill) share ONE window spec, so the plan is one exchange + one
    * sort — per-key history length never matters. The carried value
    * is a raw passthrough (no arithmetic), so cross-engine hashes are
    * bit-exact; ordering is (ts, event_id) with the unique event_id
    * breaking timestamp ties. */
  def locfGapFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wFill = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(col("event_type") === "click", lit(null))
          .otherwise(col("value")).as("v_sparse"))
      .select(col("user_id"),
        row_number().over(w).cast("long").as("seq"),
        col("event_type"),
        last(col("v_sparse"), ignoreNulls = true).over(wFill).as("v_filled"))
  }

  /** LINEAR-interpolation gap fill — [[locfGapFill]]'s smoother
    * sibling: a gap is filled on the straight line between the
    * bracketing observations, weighted by actual EVENT TIME (not row
    * position). Four window functions over the same partition+order —
    * the carried (value, ts) pair backward, the upcoming pair
    * forward — share one exchange + one sort in two frame passes (the
    * same mirror-frame shape as the as-of joins), so per-key history
    * length never matters. Edges keep honest semantics: leading gaps
    * stay null (nothing to anchor the line), trailing gaps fall back
    * to LOCF.
    *
    * Determinism: Spark reads `events.ts` as a raw int64 of
    * NANOSECONDS, but DuckDB 1.0 truncates parquet timestamp[ns] to
    * µs-precision TIMESTAMP at scan time — the sub-µs digits are
    * unrecoverable on the oracle side (`epoch_ns` there is just
    * `epoch_us * 1000`). So the bracket timestamps compare at µs:
    * `ts div 1000` here, `epoch_us(ts)` in the oracle — the same
    * truncation `sessionize_events` pins. The deltas are then exact
    * longs far below 2^53, both long→double conversions are exact, and
    * the fraction is one correctly-rounded IEEE division on identical
    * operands, followed by one multiply-add in identical order — the
    * doubles are bit-equal across engines. The OUTPUT is then
    * floor-quantized to int64 micro-units rather than `round(., 6)`:
    * interpolated values land on decimal half-boundaries (sf0.001 put
    * one at ….1716385), where Spark's BigDecimal HALF_UP and DuckDB's
    * multiply-then-round disagree by one ulp of the last digit —
    * floor(x*1e6) runs the identical multiply and floor in both
    * engines instead. Equal-timestamp (same-µs) brackets short-circuit
    * to the carried value before the 0/0 division can arise. */
  def interpGapFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wBack = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsTs = when(col("v_sparse").isNotNull, col("us"))
    val base = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"),
        when(col("event_type") === "click", lit(null))
          .otherwise(col("value")).as("v_sparse"))
    val frac = (col("us") - col("prev_ts")).cast(DoubleType) /
      (col("next_ts") - col("prev_ts")).cast(DoubleType)
    base
      .select(col("user_id"), col("us"), col("event_type"), col("v_sparse"),
        row_number().over(w).cast(LongType).as("seq"),
        last(col("v_sparse"), ignoreNulls = true).over(wBack).as("prev_v"),
        last(obsTs, ignoreNulls = true).over(wBack).as("prev_ts"),
        first(col("v_sparse"), ignoreNulls = true).over(wFwd).as("next_v"),
        first(obsTs, ignoreNulls = true).over(wFwd).as("next_ts"))
      .select(col("user_id"), col("seq"), col("event_type"),
        floor(
          when(col("v_sparse").isNotNull, col("v_sparse"))
            .when(col("prev_v").isNull, lit(null))
            .when(col("next_v").isNull || col("next_ts") === col("prev_ts"),
              col("prev_v"))
            .otherwise(col("prev_v") +
              (col("next_v") - col("prev_v")) * frac) * lit(1e6))
          .cast(LongType).as("v_interp_u"))
  }

  /** Ranking-function coverage: rank / dense_rank / percent_rank /
    * ntile over a HIGH-cardinality partition key (per-customer order
    * ranking) — the shape where a window is the right tool, unlike the
    * 5-key `topk_per_group` case. percent_rank is a single exact IEEE
    * division, deterministic across engines; int ranks are cast to
    * long so the driver's pandas dtypes line up with DuckDB's BIGINT. */
  def rankFunctions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      round(percent_rank().over(w), 6).as("prnk"),
      ntile(4).over(w).cast("long").as("quartile"))
  }

  /** Batch sessionization: gap-based sessions (30 min) per user via the
    * lag-flag + running-sum idiom — one shuffle on the high-cardinality
    * user key, sorts within partitions only. The streaming counterpart
    * is `streaming.EventStreams.sessionCounts` (session_window); this
    * is the historical-backfill form of the same analysis. Times
    * compare at µs (`ts div 1000`, integer division — events.ts is raw
    * nanoseconds; DuckDB's epoch_us truncates identically). */
  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us")
    val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 30L * 60 * 1000 * 1000
    Tables.load(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"))
      .withColumn("new_s",
        when(lag("us", 1).over(w).isNull ||
          col("us") - lag("us", 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sess", sum("new_s").over(wcum))
      .groupBy("user_id", "sess")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), max("cnt").as("max_session_events"))
  }

  /** Outer-join coverage: per-customer order rollup via LEFT OUTER
    * (customers with no orders survive with zero counts), aggregated to
    * per-segment totals so the result is compact. The broadcast is on
    * the AGGREGATED per-customer counts, not raw orders — aggregate
    * first, join the reduced sides. */
  def outerJoinOrderCounts(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val perCust = Tables.load(spark, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    customer.join(perCust,
        customer("c_custkey") === perCust("o_custkey"), "left_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") === 0, 1L).otherwise(0L)).as("n_orderless"),
        sum(col("n_orders")).as("n_orders"))
  }

  /** FULL OUTER join: symmetric difference bookkeeping between the
    * order-key and lineitem-key domains, reduced to one summary row.
    * Both sides are pre-aggregated to distinct keys before the join. */
  def fullOuterKeyAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("ok")).distinct()
    val l = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("lk")).distinct()
    o.join(l, col("ok") === col("lk"), "full_outer")
      .agg(
        sum(when(col("ok").isNotNull && col("lk").isNotNull, 1L).otherwise(0L)).as("n_both"),
        sum(when(col("lk").isNull, 1L).otherwise(0L)).as("n_orders_only"),
        sum(when(col("ok").isNull, 1L).otherwise(0L)).as("n_lineitem_only"))
  }

  /** INTERSECT / EXCEPT set operations, one row of counts — expressed
    * as tagged UNION ALL + one flag aggregation: each side contributes
    * (key, side-flag) rows; `max` per key collapses duplicates AND
    * merges side membership in a single map-side-partial pass, so the
    * whole computation is 2 scans and ONE hash exchange. (Round 2
    * built `.intersect`/`.except` branches separately: 4 scans, 4
    * exchanges, 1.84 s at sf0.1; a full-outer-join rewrite got to 2
    * scans but null-safe join keys defeated exchange reuse.) NULL keys
    * are a group like any other under groupBy, which is exactly
    * INTERSECT/EXCEPT's null-safe equality. Equivalence to the bare
    * operators is pinned by RelationalSpec, the plan shape by
    * PlanShapeSpec. */
  def intersectExceptKeys(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("k"), lit(1).as("o"), lit(0).as("c"))
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("k"), lit(0).as("o"), lit(1).as("c"))
    o.unionAll(c)
      .groupBy("k")
      .agg(max("o").as("has_o"), max("c").as("has_c"))
      .agg(
        sum(when(col("has_o") === 1 && col("has_c") === 1, 1L)
          .otherwise(0L)).as("n_intersect"),
        sum(when(col("has_c") === 1 && col("has_o") === 0, 1L)
          .otherwise(0L)).as("n_except"))
  }

  /** Several DISTINCT aggregates with different keys in ONE aggregate —
    * Catalyst plans this via Expand (each input row is replicated once
    * per distinct clause, then a two-level aggregate dedups and
    * counts), so the whole thing remains a single pipeline with
    * partial aggregation; naively self-joining three separately
    * grouped frames would triple the scans. The Expand multiplies rows
    * ×3 BEFORE the exchange, which is the documented cost knob: at
    * 100 TB with many distinct clauses you split the query or switch
    * to approx_count_distinct (`approx_distinct_users`). */
  def multiDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd").as("day"))
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("day")).as("n_days"),
        count(lit(1)).as("n"))

  /** Schema-evolution union — the ingestion reality where yesterday's
    * shard lacks a column today's carries: `unionByName(
    * allowMissingColumns = true)` aligns columns by NAME and
    * null-fills the absent side, where positional `unionAll` would
    * silently misbind columns or reject the width mismatch. Modeled
    * here as two disjoint projections of orders (even keys carry
    * status, odd keys carry priority). Narrow: two scans, no
    * exchange. */
  def unionByNameEvolution(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val v2 = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderpriority"))
    v1.unionByName(v2, allowMissingColumns = true)
  }

  /** INTERSECT ALL / EXCEPT ALL (multiset semantics — duplicates
    * count), same tagged-UNION-ALL shape as [[intersectExceptKeys]]
    * but with per-side COUNTS instead of membership flags: for key k
    * appearing n_o times in orders and n_c times in customers,
    * |∩_all| contributes min(n_o, n_c), |orders ∖_all customers|
    * contributes max(n_o − n_c, 0), symmetrically for the other side.
    * Still 2 scans + ONE hash exchange. Spark's native
    * `.intersectAll`/`.exceptAll` plan a Generate(ReplicateRows) over
    * a per-side count union — semantically this identity — but one
    * call per set op re-scans both inputs; the tagged union computes
    * all three counts in a single pass (equivalence to the native
    * operators is pinned by RelationalSpec). Multiset set ops use
    * null-safe equality, which groupBy gives for free. */
  def setOpsAllCounts(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("k"), lit(1L).as("o"), lit(0L).as("c"))
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("k"), lit(0L).as("o"), lit(1L).as("c"))
    o.unionAll(c)
      .groupBy("k")
      .agg(sum("o").as("n_o"), sum("c").as("n_c"))
      .agg(
        sum(least(col("n_o"), col("n_c"))).as("n_intersect_all"),
        sum(greatest(col("n_o") - col("n_c"), lit(0L))).as("n_orders_except_all"),
        sum(greatest(col("n_c") - col("n_o"), lit(0L))).as("n_customer_except_all"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multi_distinct_agg" -> (multiDistinctAgg _),
    "union_by_name_evolution" -> (unionByNameEvolution _),
    "setops_all_counts" -> (setOpsAllCounts _),
    "rank_functions" -> (rankFunctions _),
    "sessionize_events" -> (sessionizeEvents _),
    "outer_join_order_counts" -> (outerJoinOrderCounts _),
    "full_outer_key_audit" -> (fullOuterKeyAudit _),
    "range_frame_sum" -> (rangeFrameSum _),
    "cube_orders" -> (cubeOrders _),
    "lag_delta_per_user" -> (lagDeltaPerUser _),
    "nav_functions_per_user" -> (navFunctionsPerUser _),
    "locf_gap_fill" -> (locfGapFill _),
    "interp_gap_fill" -> (interpGapFill _),
    "intersect_except_keys" -> (intersectExceptKeys _),
    "theta_join_regions" -> (thetaJoinRegions _),
    "pivot_events_by_day" -> (pivotEventsByDay _),
    "collect_days_per_type" -> (collectDaysPerType _),
    "group_count_by_key" -> (groupCountByKey _),
    "group_agg_sum" -> (groupAggSum _),
    "sort_by_key" -> (sortByKey _),
    "distinct_keys" -> (distinctKeys _),
    "filter_project" -> (filterProject _),
    "union_all_sources" -> (unionAllSources _),
    "join_orders_customers" -> (joinOrdersCustomers _),
    "anti_join_no_big_orders" -> (customersWithoutBigOrders _),
    "semi_join_parts" -> (partsWithLineitems _),
    "topk_per_group" -> (topkPerGroup _),
    "running_sum_per_user" -> (runningSumPerUser _),
    "orders_by_month" -> (ordersByMonth _),
    "rollup_orders" -> (rollupOrders _))

  val oracles: Map[String, String] = Map(
    "union_by_name_evolution" ->
      """SELECT o_orderkey, o_orderstatus, NULL AS o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, NULL AS o_orderstatus, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin,
    "multi_distinct_agg" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS n_users,
        |       count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
        |       count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "setops_all_counts" ->
      """SELECT
        |  (SELECT count(*) FROM (SELECT o_custkey FROM orders
        |    INTERSECT ALL SELECT c_custkey FROM customer)) AS n_intersect_all,
        |  (SELECT count(*) FROM (SELECT o_custkey FROM orders
        |    EXCEPT ALL SELECT c_custkey FROM customer)) AS n_orders_except_all,
        |  (SELECT count(*) FROM (SELECT c_custkey FROM customer
        |    EXCEPT ALL SELECT o_custkey FROM orders)) AS n_customer_except_all""".stripMargin,
    "range_frame_sum" ->
      """SELECT event_id, user_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |            OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS trailing_1h
        |FROM events""".stripMargin,
    "outer_join_order_counts" ->
      """SELECT c_mktsegment,
        |       count(*) AS n_customers,
        |       CAST(SUM(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless,
        |       CAST(SUM(n_orders) AS BIGINT) AS n_orders
        |FROM (SELECT c_mktsegment, coalesce(n, 0) AS n_orders
        |      FROM customer LEFT OUTER JOIN
        |           (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) o
        |        ON c_custkey = o_custkey) t
        |GROUP BY c_mktsegment""".stripMargin,
    "full_outer_key_audit" ->
      """SELECT
        |  CAST(SUM(CASE WHEN ok IS NOT NULL AND lk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(SUM(CASE WHEN lk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orders_only,
        |  CAST(SUM(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lineitem_only
        |FROM (SELECT DISTINCT o_orderkey AS ok FROM orders) o
        |FULL OUTER JOIN (SELECT DISTINCT l_orderkey AS lk FROM lineitem) l
        |  ON ok = lk""".stripMargin,
    "rank_functions" ->
      """SELECT o_orderkey, o_custkey,
        |       rank() OVER w AS rnk,
        |       dense_rank() OVER w AS drnk,
        |       round(percent_rank() OVER w, 6) AS prnk,
        |       ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "sessionize_events" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |d AS (SELECT user_id, us,
        |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |             OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |s AS (SELECT user_id,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |      FROM d)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(max(cnt) AS BIGINT) AS max_session_events
        |FROM (SELECT user_id, sess, count(*) AS cnt FROM s GROUP BY user_id, sess) g
        |GROUP BY user_id""".stripMargin,
    "cube_orders" ->
      """SELECT coalesce(o_orderstatus, '<all>') AS o_orderstatus,
        |       coalesce(o_orderpriority, '<all>') AS o_orderpriority,
        |       count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "lag_delta_per_user" ->
      """SELECT user_id, count(delta) AS n_deltas,
        |       CAST(SUM(abs(delta)) AS DOUBLE) AS sum_abs_delta
        |FROM (SELECT user_id,
        |             CAST(value AS DECIMAL(18,2)) -
        |             lag(CAST(value AS DECIMAL(18,2)), 1)
        |               OVER (PARTITION BY user_id ORDER BY event_id) AS delta
        |      FROM events) t
        |GROUP BY user_id""".stripMargin,
    "nav_functions_per_user" ->
      """SELECT DISTINCT user_id,
        |       first_value(event_type) OVER w AS first_type,
        |       last_value(event_type) OVER w AS last_type,
        |       nth_value(event_type, 2) OVER w AS second_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "locf_gap_fill" ->
      """SELECT user_id,
        |       row_number() OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS seq,
        |       event_type,
        |       last_value(CASE WHEN event_type = 'click' THEN NULL
        |                       ELSE value END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM events""".stripMargin,
    "interp_gap_fill" ->
      """WITH sp AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v_sparse
        |  FROM events),
        |wv AS (
        |  SELECT user_id, event_type, v_sparse,
        |         epoch_us(ts) AS tns,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
        |         last_value(v_sparse IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        |         last_value(CASE WHEN v_sparse IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
        |         first_value(v_sparse IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        |         first_value(CASE WHEN v_sparse IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
        |  FROM sp)
        |SELECT user_id, seq, event_type,
        |       CAST(FLOOR((CASE WHEN v_sparse IS NOT NULL THEN v_sparse
        |                        WHEN prev_v IS NULL THEN NULL
        |                        WHEN next_v IS NULL OR next_ts = prev_ts THEN prev_v
        |                        ELSE prev_v + (next_v - prev_v) *
        |                             (CAST(tns - prev_ts AS DOUBLE)
        |                              / CAST(next_ts - prev_ts AS DOUBLE))
        |                   END) * 1e6) AS BIGINT) AS v_interp_u
        |FROM wv""".stripMargin,
    "intersect_except_keys" ->
      """SELECT
        |  (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders
        |                         INTERSECT
        |                         SELECT DISTINCT c_custkey FROM customer)) AS n_intersect,
        |  (SELECT count(*) FROM (SELECT DISTINCT c_custkey FROM customer
        |                         EXCEPT
        |                         SELECT DISTINCT o_custkey FROM orders)) AS n_except""".stripMargin,
    "theta_join_regions" ->
      """SELECT r_name, n_name
        |FROM region CROSS JOIN nation
        |WHERE r_regionkey <> n_regionkey""".stripMargin,
    "pivot_events_by_day" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,
    "collect_days_per_type" ->
      """SELECT event_type,
        |       array_to_string(list_sort(list_distinct(list(strftime(ts, '%Y-%m-%d')))), ',') AS days,
        |       count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days
        |FROM events GROUP BY event_type""".stripMargin,
    "group_count_by_key" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "group_agg_sum" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       count(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "sort_by_key" ->
      "SELECT doc_id, lang, source FROM documents ORDER BY lang, doc_id",
    "distinct_keys" ->
      "SELECT DISTINCT event_type FROM events",
    "filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_totalprice > 400000.0""".stripMargin,
    "union_all_sources" ->
      """SELECT key, count(*) AS n FROM (
        |  SELECT o_orderkey AS key FROM orders
        |  UNION ALL
        |  SELECT l_orderkey AS key FROM lineitem
        |) t GROUP BY key""".stripMargin,
    "join_orders_customers" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "anti_join_no_big_orders" ->
      """SELECT c_mktsegment, count(*) AS n_no_big_orders
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > 400000.0)
        |GROUP BY c_mktsegment""".stripMargin,
    "semi_join_parts" ->
      """SELECT p_brand, count(*) AS n_parts
        |FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin,
    "topk_per_group" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3""".stripMargin,
    "running_sum_per_user" ->
      """SELECT event_id, user_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |            OVER (PARTITION BY user_id ORDER BY event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS running_value
        |FROM events""".stripMargin,
    "orders_by_month" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "rollup_orders" ->
      """SELECT coalesce(o_orderstatus, '<all>') AS o_orderstatus,
        |       coalesce(o_orderpriority, '<all>') AS o_orderpriority,
        |       count(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin)
}
