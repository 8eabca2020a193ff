package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SessionCaches, Tables}

/** The `spark.sql(...)` entry path: tables registered as temp views,
  * queries written in ANSI SQL. `sql_pricing_summary` (a TPC-H Q1
  * shape) is written in the dialect intersection of Spark SQL and
  * DuckDB, so the ORACLE IS THE IDENTICAL SQL STRING — the strongest
  * possible cross-engine pin: same text, two engines, equal hashes.
  *
  * Decimal discipline as everywhere else: money × (1 ± 2-dp factor)
  * products are exact in DECIMAL, summed exactly, cast to DOUBLE last. */
object SqlSurface {

  def registerViews(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n)
    }

  /** The schema has no partsupp table; three TPC-H shapes (Q2, Q16,
    * Q20) derive it from lineitem — a full-width group-by/distinct
    * over the biggest fact. Rebuilt inside each query, that derivation
    * shuffles ≈ the whole of lineitem PER CALL (7.1 M / 6.2 M shuffle
    * records at sf1, twice in Q2's case). The relation is a pure
    * function of the corpus, so it is memoized once per (session,
    * corpus), persisted, with every column any of the three consumers
    * needs; Catalyst's column pruning drops the unused ones per
    * query. Oracle SQL keeps the inline
    * `WITH partsupp AS (...)` form (textually the same derivation),
    * so DuckDB recomputes what Spark reads from the memo — the hash
    * compare certifies the memo IS the derivation. */
  val derivedPartsuppSql: String =
    """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |       MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS ps_availqty
      |FROM lineitem GROUP BY l_partkey, l_suppkey""".stripMargin

  /** Register `partsupp` as a temp view over the session-memoized
    * materialization (and `lineitem`, which the derivation reads). */
  private def registerPartsupp(spark: SparkSession, dir: String): Unit = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    SessionCaches.persisted(spark, "sql.partsupp", dir)(spark.sql(derivedPartsuppSql))
      .createOrReplaceTempView("partsupp")
  }

  /** The oracle text with its `WITH partsupp AS (...)` header dropped:
    * the Spark-side run resolves `partsupp` against the memoized view
    * instead of re-deriving the CTE. (CTE bodies are indented; the
    * outer SELECT is the first column-0 SELECT.) */
  private def sansPartsuppCte(sql: String): String = {
    require(sql.startsWith("WITH partsupp AS ("), s"not a partsupp CTE query:\n$sql")
    sql.linesIterator.dropWhile(!_.startsWith("SELECT")).mkString("\n")
  }

  /** Two determinism measures surfaced by the r7 sf1 run (invisible
    * at sf0.1, real at 534 k rows/group):
    *  - operand widths are DECIMAL(12,2), not (18,2) — at (18,2) the
    *    charge term's exact (55,6) triple product overflows both
    *    engines' 38-digit cap and each applies its OWN precision-loss
    *    rule; at (12,2) the product is an exact (38,6) in both
    *    (lineitem prices fit with four digits to spare);
    *  - the product sums reach DOUBLE via CAST(… AS STRING) — the
    *    scale-6 sum's scaled integer exceeds 2^53, and DuckDB's direct
    *    decimal→double cast double-rounds (int→double, then /10^6),
    *    landing 1 ulp off Spark's correctly-rounded BigDecimal
    *    conversion. decimal→text is exact and text→double is one
    *    correctly-rounded parse in BOTH engines, at any scale factor. */
  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                     CAST(1 - l_discount AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sum_disc_price,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                     CAST(1 - l_discount AS DECIMAL(12,2)) *
      |                     CAST(1 + l_tax AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sum_charge,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    // register only the referenced table: registering all 10 re-reads
    // 10 parquet footers per query build (visible in the bench)
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(pricingSummarySql)
  }

  /** Correlated scalar subquery — the one relational surface Catalyst
    * must DECORRELATE (rewrite into an aggregate + join) to execute at
    * scale; the plan shows the per-customer average computed once in a
    * hash aggregate, never one subquery execution per outer row.
    * Written in the Spark/DuckDB dialect intersection, so the oracle is
    * the identical SQL text. Determinism: the scalar is an exact
    * DECIMAL sum cast to DOUBLE then one IEEE division — bit-stable in
    * both engines. */
  val correlatedSubquerySql: String =
    """SELECT o_custkey, count(*) AS n_above
      |FROM orders o
      |WHERE o_totalprice > (
      |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |GROUP BY o_custkey""".stripMargin

  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(correlatedSubquerySql)
  }

  /** EXISTS and NOT IN predicate subqueries — the OTHER decorrelation
    * family (`RewritePredicateSubquery`): Catalyst rewrites EXISTS to
    * a left-semi join and NOT IN to a (null-aware) left-anti join, so
    * neither executes per outer row. One query certifies both
    * rewrites plus their composition with an aggregate. Identical SQL
    * text is the oracle. The NOT EXISTS branch checks for big-ticket
    * orders, so the surviving customers either never ordered big or
    * only ordered small — the anti-join-with-a-twist every analyst
    * writes as `NOT IN`.
    *
    * Why NOT EXISTS and not NOT IN: three-valued NOT IN semantics
    * force Spark into a null-aware anti join, which plans as a
    * BroadcastNestedLoopJoin ExistenceJoin — condition
    * `(c = o) OR isnull(c = o)`, every outer row compared against
    * every broadcast subquery row, quadratic-with-spill once the
    * subquery outgrows broadcast at scale. Adding `o_custkey IS NOT
    * NULL` inside the subquery does NOT fix it: the filter reaches
    * the scan but parquet attributes stay nullable in the plan, so
    * Catalyst cannot drop the isnull wing (verified empirically —
    * the BNLJ survives the guard). NOT EXISTS carries the equality
    * in the correlation instead, no null wing exists, and the plan
    * is a hashed BroadcastHashJoin ExistenceJoin — the same shape as
    * `anti_join_no_big_orders`. On key columns the two forms are
    * equivalent. PlanShapeSpec pins the absence of the nested-loop
    * fallback. */
  val existsNotInSql: String =
    """SELECT c_mktsegment,
      |       count(*) AS n_with_orders,
      |       CAST(SUM(CASE WHEN NOT EXISTS
      |                  (SELECT 1 FROM orders o2
      |                   WHERE o2.o_custkey = c_custkey AND o2.o_totalprice > 300000)
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_no_big_orders
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment""".stripMargin

  def existsNotIn(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(existsNotInSql)
  }

  /** TPC-H Q5 shape — the six-table join chain (customer ⋈ orders ⋈
    * lineitem ⋈ supplier ⋈ nation ⋈ region) every warehouse runs,
    * written as a flat WHERE conjunction so CATALYST picks the join
    * order: the optimizer must push the region/date filters to the
    * scans, start from the 1-row filtered region, and broadcast the
    * dimension chain up the fact spine — exactly the reorder this
    * query certifies. At 100 TB the o_orderdate range prunes
    * partitions when orders is date-partitioned; the only big-big
    * join (orders ⋈ lineitem) shuffles on orderkey, everything else
    * broadcasts. Identical SQL text is the oracle; revenue follows
    * the DECIMAL-exact-then-DOUBLE discipline. */
  val localSupplierVolumeSql: String =
    """SELECT n_name,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(localSupplierVolumeSql)
  }

  /** Explicit GROUPING SETS — the general form ROLLUP and CUBE are
    * sugar for: an arbitrary LIST of grouping combinations in ONE
    * pass. Catalyst plans it exactly like the rollup/cube queries —
    * one Expand (×3 here) feeding one hash aggregate, one exchange —
    * so at 100 TB the cost is (#sets)× the pre-exchange rows, the
    * documented Expand trade. `GROUPING(col)` disambiguates a
    * "grouped-away" NULL from a data NULL — cast to BIGINT so both
    * engines hash the same integer type. Identical SQL text is the
    * oracle. */
  val groupingSetsSql: String =
    """SELECT o_orderpriority, o_orderstatus,
      |       count(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
      |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
      |                        (o_orderpriority, o_orderstatus))""".stripMargin

  def groupingSetsMix(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(groupingSetsSql)
  }

  /** TPC-H Q3 shape (shipping priority) — certifies the top-k-over-
    * joins composition on the SQL path: customer ⋈ orders ⋈ lineitem
    * with segment + two date filters, grouped revenue, ORDER BY +
    * LIMIT 10. The plan MUST place a TakeOrderedAndProject above the
    * aggregate — each partition keeps its local top 10 and only 10·P
    * rows reach the driver-side merge, never a global sort of every
    * group (PlanShapeSpec pins Sort's absence). At 100 TB the segment
    * filter broadcasts customer, the date filters prune at the scans,
    * and the only big-big join is orders ⋈ lineitem on orderkey.
    *
    * Determinism at the LIMIT boundary: revenue is a DECIMAL-exact sum
    * cast to DOUBLE (bit-identical both engines) and l_orderkey
    * completes a TOTAL order, so the selected 10-row SET is unique.
    * o_orderdate reaches the output as a VARCHAR date — the
    * dialect-intersection spelling (no strftime/date_format split)
    * since the oracle is this identical SQL text. The synthetic orders
    * table has no o_shippriority; o_orderpriority plays its role. */
  val shippingPrioritySql: String =
    """SELECT l_orderkey,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS order_date,
      |       o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)), o_orderpriority
      |ORDER BY revenue DESC, order_date, l_orderkey
      |LIMIT 10""".stripMargin

  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(shippingPrioritySql)
  }

  /** TPC-H Q18 shape (large-volume customer) — certifies HAVING over
    * an aggregated subquery composed with a join: the IN subquery
    * aggregates lineitem per order, HAVING keeps the >300-quantity
    * orders (~1% of orders — l_quantity is integer-valued, so the sum
    * and the HAVING boundary are exact in both engines), and the outer
    * query joins customer ⋈ orders ⋈ lineitem back to re-aggregate per
    * surviving order. Catalyst plans the IN as a left-semi join on the
    * aggregated subquery — the aggregate runs ONCE, not per outer row,
    * and the semi join halves lineitem before the expensive re-join.
    * Top-100 by o_totalprice with o_orderkey completing a total order;
    * identical SQL text is the oracle. */
  val largeVolumeCustomerSql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS order_date,
      |       o_totalprice,
      |       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
      |  AND c_custkey = o_custkey
      |  AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey,
      |         CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)), o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  def largeVolumeCustomer(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(largeVolumeCustomerSql)
  }

  /** TPC-H Q14 shape (promotion effect) — certifies CONDITIONAL
    * aggregation composed with a join: one scan computes both the
    * PROMO-only and the total revenue via CASE inside SUM (never two
    * passes or a self-join), over lineitem ⋈ part with the one-month
    * shipdate range pushed to the fact scan and the part dimension
    * broadcast. The single-row percent output follows the decimal
    * discipline: both sums exact in DECIMAL, ONE double division,
    * rounded once. Identical SQL text is the oracle. */
  val promoEffectSql: String =
    """SELECT round(
      |         CAST(100.00 * SUM(CASE WHEN p_type = 'PROMO'
      |                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                       CAST(1 - l_discount AS DECIMAL(18,2))
      |                  ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
      |         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                    CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE),
      |         6) AS promo_revenue_pct
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  def promoEffect(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(promoEffectSql)
  }

  /** LATERAL correlated subquery with per-outer-row ORDER BY + LIMIT —
    * the SQL:2016 spelling of grouped top-k (the declarative
    * counterpart of the `topk_per_group` bounded-heap Aggregator).
    * Catalyst decorrelates the limit into a rank-window over the
    * joined pairs, so nothing executes per outer row; at 100 TB the
    * plan is one join + one bounded window, not N subquery scans.
    * Identical SQL text both engines; c_acctbal passes through
    * unmodified (no double arithmetic to drift). */
  val lateralTopkSql: String =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_name, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_name LIMIT 2) t""".stripMargin

  def lateralTopk(spark: SparkSession, dir: String): DataFrame = {
    Seq("nation", "customer")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(lateralTopkSql)
  }

  /** TPC-H Q4 shape (order priority checking): orders in a quarter
    * with at least one late line — EXISTS whose correlated predicate is
    * NOT a plain key equality but carries a non-equi comparison against
    * the OUTER row's column (`l_shipdate > o_orderdate + 60 days`).
    * Catalyst must decorrelate this into a semi join with the non-equi
    * condition as a join filter — the shape `sql_exists_not_in` does
    * not cover (its correlations are pure equalities). The schema has
    * no commit/receipt dates, so "late" is ship-lag vs order date —
    * same predicate class as the reference query. Identical SQL text
    * both engines (INTERVAL 60 DAY parses in the dialect
    * intersection). */
  val orderPriorityCheckSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  def orderPriorityCheck(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(orderPriorityCheckSql)
  }

  /** TPC-H Q13 shape (customer distribution): how many customers have
    * how many qualifying orders. The Q13 traps, both preserved: the
    * order predicate lives in the LEFT JOIN's ON clause — moving it to
    * WHERE silently drops zero-order customers from the histogram —
    * and `count(o.o_orderkey)` (not count(*)) so unmatched customers
    * count 0. Scale shape: the inner per-customer aggregate rides the
    * join's custkey partitioning (no extra exchange); only the tiny
    * c_count histogram re-shuffles. The schema has no o_comment, so
    * the reference query's NOT LIKE lands on o_orderpriority —
    * same predicate class, same plan shape. */
  val customerDistributionSql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |      FROM customer c LEFT OUTER JOIN orders o
      |        ON c.c_custkey = o.o_custkey
      |       AND o.o_orderpriority NOT LIKE '%LOW%'
      |      GROUP BY c.c_custkey) t
      |GROUP BY c_count""".stripMargin

  def customerDistribution(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(customerDistributionSql)
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    * planner stress — an EXISTS and a NOT EXISTS correlated to the SAME
    * fact table (lineitem) from the same query block, each carrying a
    * suppkey INEQUALITY beside the orderkey equality, on top of a
    * four-way join (supplier ⋈ lineitem ⋈ orders ⋈ nation). Catalyst
    * must decorrelate to one LeftSemi and one LeftAnti join whose
    * conditions carry the `<>` as join filters — a per-outer-row
    * subquery or a nested loop here is quadratic in lineitem. The
    * schema has no commit/receipt dates, so the reference's "late
    * line" predicate (`l_receiptdate > l_commitdate`,
    * line-LOCAL like ours) lands on `l_returnflag = 'R'` — identical
    * predicate class, identical plan shape. Scale shape: all three
    * lineitem branches hash on l_orderkey, so the semi and anti joins
    * reuse the fact shuffle partitioning; supplier and nation
    * broadcast. Identical SQL text both engines. */
  val waitingOrdersSql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND n.n_name LIKE 'NATION_1%'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_name""".stripMargin

  def waitingOrders(spark: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "lineitem", "orders", "nation")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(waitingOrdersSql)
  }

  /** TPC-H Q6 shape (forecasting revenue change) — the pure
    * scan-filter-aggregate every engine uses to certify PREDICATE
    * PUSHDOWN: three range predicates (date, discount band, quantity
    * cap) on one fact table, no join, one scalar output. All three
    * must reach the parquet scan as PushedFilters — a plan that
    * filters post-scan reads 16× the rows at 100 TB (the date range
    * alone keeps ~1/6 of lineitem; partition pruning takes this to
    * ~1/6 of FILES when the table is shipdate-partitioned). The
    * revenue term (price × discount) follows the decimal-exact-
    * then-string-cast discipline. Identical SQL text is the oracle. */
  val forecastRevenueSql: String =
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                     CAST(l_discount AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  def forecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(forecastRevenueSql)
  }

  /** TPC-H Q7 shape (volume shipping) — the SAME dimension table
    * joined TWICE under different roles: nation n1 keys the supplier
    * side, nation n2 the customer side, with the Q7 signature
    * disjunctive pair predicate `(n1=A AND n2=B) OR (n1=B AND n2=A)`
    * that cannot be pushed to either scan alone. The planner must
    * alias the two nation scans independently, broadcast both (and
    * supplier/customer), and leave orders ⋈ lineitem as the only
    * big-big shuffle; the pair predicate evaluates post-join. YEAR
    * extraction rides the dialect intersection via EXTRACT, cast to
    * BIGINT so both engines agree on the integer type. Volume is a
    * per-row exact DECIMAL product summed exactly, string-cast to
    * DOUBLE last. Identical SQL text is the oracle. */
  val nationVolumeShippingSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(CAST(SUM(volume) AS STRING) AS DOUBLE) AS revenue
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
      |             CAST(l_extendedprice AS DECIMAL(12,2)) *
      |             CAST(1 - l_discount AS DECIMAL(12,2)) AS volume
      |      FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
      |      WHERE s.s_suppkey = l.l_suppkey
      |        AND o.o_orderkey = l.l_orderkey
      |        AND c.c_custkey = o.o_custkey
      |        AND s.s_nationkey = n1.n_nationkey
      |        AND c.c_nationkey = n2.n_nationkey
      |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
      |GROUP BY supp_nation, cust_nation, l_year""".stripMargin

  def nationVolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "lineitem", "orders", "customer", "nation")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(nationVolumeShippingSql)
  }

  /** TPC-H Q17 shape (small-quantity-order revenue) — the correlated
    * SCALAR AGGREGATE subquery classic: each lineitem row compares its
    * quantity against 0.2× the average quantity OF ITS OWN PART.
    * Catalyst must decorrelate to one per-partkey aggregate over
    * lineitem joined back to the filtered fact — executed per GROUP,
    * never per outer row (a per-row subquery is quadratic in lineitem).
    * Determinism: l_quantity is integer-valued, so the per-part AVG is
    * an exact double at any partition order, and 0.2×avg is one IEEE
    * multiply — bit-identical both engines. The final sum follows the
    * decimal discipline; ÷7.0 is one IEEE division. The schema has no
    * p_container, so the reference's container filter lands on p_type —
    * same predicate class. Identical SQL text is the oracle. */
  val smallQuantityRevenueSql: String =
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand = 'Brand#23'
      |  AND p_type = 'MEDIUM'
      |  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(smallQuantityRevenueSql)
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive brackets) — the
    * OR-of-ANDs join query: three (brand, size-range, quantity-range)
    * brackets OR'd together across the lineitem ⋈ part boundary. The
    * planner stress is CONJUNCT EXTRACTION: `p_partkey = l_partkey` is
    * a top-level conjunct, so the join must stay a hashed equi-join
    * with the disjunction as a post-join filter — naive handling of
    * the OR (join condition = the whole disjunction) degrades to a
    * nested loop, quadratic at scale. Catalyst additionally derives
    * the per-side implied disjunctions (brand∈{12,23,24} onto the part
    * scan, quantity∈[1,30] onto lineitem) so both scans prune.
    * Brands run 1–25 in this testdata, so the reference's Brand#34
    * lands on Brand#24. Identical SQL text is the oracle. */
  val disjunctiveRevenueSql: String =
    """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                     CAST(1 - l_discount AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
      |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |    OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(disjunctiveRevenueSql)
  }

  /** TPC-H Q22 shape (global sales opportunity) — composes the two
    * remaining subquery families in one block: an UNCORRELATED scalar
    * aggregate (the global positive-balance average, computed once and
    * broadcast as a literal-like filter) and a correlated NOT EXISTS
    * against orders (planned as a left-anti hash join). "Dormant" is
    * no order since 1999 — every synthetic customer has SOME order, so
    * the reference's no-orders-at-all predicate would certify an empty
    * result; the date-qualified form keeps the identical anti-join
    * shape with a non-degenerate output. The country code is the last
    * two digits of c_name (the schema has no c_phone; leading digits
    * are all '0' below 10M customers). The scalar threshold and the
    * per-group sum both follow the decimal-exact-then-string-cast
    * discipline, so the `>` comparison sees a bit-identical double in
    * both engines. Identical SQL text is the oracle. */
  val dormantCustomerBalanceSql: String =
    """SELECT cntrycode, count(*) AS numcust,
      |       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS totacctbal
      |FROM (SELECT SUBSTRING(c_name, 17, 2) AS cntrycode, c_acctbal
      |      FROM customer
      |      WHERE c_acctbal > (SELECT CAST(CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS STRING) AS DOUBLE) / count(*)
      |                         FROM customer c2 WHERE c2.c_acctbal > 0.00)
      |        AND NOT EXISTS (SELECT 1 FROM orders o
      |                        WHERE o.o_custkey = c_custkey
      |                          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')) t
      |GROUP BY cntrycode""".stripMargin

  def dormantCustomerBalance(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(dormantCustomerBalanceSql)
  }

  /** TPC-H Q8 shape (national market share) — the deepest join chain
    * on the board (part, supplier, lineitem, orders, customer, nation
    * ×2, region: 8 relations) under a CONDITIONAL-share aggregate:
    * one nation role scopes the CUSTOMER region membership, the other
    * tags the SUPPLIER nation whose share is measured, and the share
    * is a CASE-sum over the same rows as the total — one pass, never
    * a self-join. Catalyst must thread the chain starting from the
    * 1-row region filter, broadcast every dimension, and leave
    * orders ⋈ lineitem as the only big-big shuffle. The ELSE branch
    * is a DECIMAL product of zeros so both CASE branches carry the
    * identical exact type in both engines; the share division is one
    * IEEE op over string-cast-exact sums, rounded once. The schema
    * has no p_mfgr two-level grouping, so the year axis alone remains
    * — same aggregate class. Identical SQL text is the oracle. */
  val marketShareSql: String =
    """SELECT o_year,
      |       round(CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
      |                     ELSE CAST(0.00 AS DECIMAL(12,2)) * CAST(0.00 AS DECIMAL(12,2)) END) AS STRING) AS DOUBLE)
      |             / CAST(CAST(SUM(volume) AS STRING) AS DOUBLE), 6) AS mkt_share
      |FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |             CAST(l_extendedprice AS DECIMAL(12,2)) *
      |             CAST(1 - l_discount AS DECIMAL(12,2)) AS volume,
      |             n2.n_name AS supp_nation
      |      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |        AND r_name = 'ASIA'
      |        AND s_nationkey = n2.n_nationkey
      |        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |        AND p_type = 'ECONOMY') all_nations
      |GROUP BY o_year""".stripMargin

  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    Seq("part", "supplier", "lineitem", "orders", "customer", "nation", "region")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(marketShareSql)
  }

  /** TPC-H Q10 shape (returned-item reporting) — the revenue-at-risk
    * top-k: customers ranked by revenue of their RETURNED lines in a
    * quarter, over customer ⋈ orders ⋈ lineitem ⋈ nation. Certifies
    * the same bounded top-k discipline as Q3/Q18 on a grouped 4-way
    * join with a fact-side selective filter (returnflag + date window
    * both reach the scans). The LIMIT-boundary set is unique: revenue
    * is DECIMAL-exact (ties are EXACT ties, identical in both
    * engines) and c_custkey completes the total order. Identical SQL
    * text is the oracle. */
  val returnedItemSql: String =
    """SELECT c_custkey, c_name, n_name,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                     CAST(1 - l_discount AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_returnflag = 'R'
      |  AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  def returnedItem(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "nation")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(returnedItemSql)
  }

  /** TPC-H Q15 shape (top supplier) — the MAX-OVER-AGGREGATE subquery:
    * a derived revenue-per-supplier aggregate (the reference's VIEW,
    * spelled as a CTE) is consumed TWICE in one query — once joined to
    * supplier, once reduced to its max inside a scalar subquery — and
    * the planner must not recompute lineitem twice naively nor fall
    * off the hashed path for the `= (SELECT max(...))` filter. The
    * tie semantics are the reference's: EVERY supplier at the max
    * survives (no LIMIT), which is why the scalar-subquery form
    * exists at all. Revenue is DECIMAL-exact → string-cast → double,
    * so max and the equality compare see bit-identical values in
    * both engines. Identical SQL text is the oracle. */
  val topSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                       CAST(1 - l_discount AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin

  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "supplier")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(topSupplierSql)
  }

  /** TPC-H Q2 shape (minimum-cost supplier) — the CORRELATED-MIN
    * EQUALITY classic: each (part, supplier) pair survives only if its
    * cost equals the minimum cost for that part AMONG THE SAME
    * REGION-FILTERED candidate set, so the subquery repeats the outer
    * query's whole join chain (partsupp ⋈ supplier ⋈ nation ⋈ region)
    * under correlation. Catalyst must decorrelate this to ONE
    * per-partkey min-aggregate over the re-joined chain — a per-outer-
    * row execution re-runs a 4-way join per part and is quadratic.
    * The schema has no partsupp table, so the reference's relation is
    * derived: lineitem's observed (l_partkey, l_suppkey) pairs with
    * MIN(l_extendedprice) as the supply cost — exact DECIMAL, so the
    * min and the equality compare are bit-identical in both engines,
    * and ties (several suppliers at the part's min) ALL survive, same
    * as Q2's spec. Identical SQL text is the oracle. */
  val minCostSupplierSql: String =
    """WITH partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT s_name, n_name, p_partkey, p_name,
      |       CAST(CAST(ps_supplycost AS STRING) AS DOUBLE) AS supplycost
      |FROM part, partsupp, supplier, nation, region
      |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND p_size = 5 AND r_name = 'EUROPE'
      |  AND ps_supplycost = (
      |    SELECT MIN(ps2.ps_supplycost)
      |    FROM partsupp ps2, supplier s2, nation n2, region r2
      |    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      |      AND r2.r_name = 'EUROPE')""".stripMargin

  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    Seq("part", "supplier", "nation", "region")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    registerPartsupp(spark, dir)
    spark.sql(sansPartsuppCte(minCostSupplierSql))
  }

  /** TPC-H Q9 shape (product-type profit) — the LIKE-pushdown profit
    * rollup: a 5-way join (part ⋈ supplier ⋈ lineitem ⋈ orders ⋈
    * nation) where the ONLY selective predicate is a substring match
    * on p_name, so the plan lives or dies on pushing the LIKE into
    * the part scan (PushedFilters StringContains) and broadcasting the
    * surviving slice of part — at 100 TB, part is the small side and
    * lineitem must be probed once, never shuffled twice. Profit per
    * row is revenue minus cost as ONE exact DECIMAL expression (the
    * schema has no ps_supplycost; p_retailprice × quantity stands in —
    * same expression class), summed per (nation, order-year).
    * Identical SQL text is the oracle. */
  val productProfitSql: String =
    """SELECT nation, o_year,
      |       CAST(CAST(SUM(amount) AS STRING) AS DOUBLE) AS sum_profit
      |FROM (SELECT n_name AS nation,
      |             CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |             CAST(l_extendedprice AS DECIMAL(12,2)) *
      |             CAST(1 - l_discount AS DECIMAL(12,2)) -
      |             CAST(p_retailprice AS DECIMAL(12,2)) *
      |             CAST(l_quantity AS DECIMAL(12,2)) AS amount
      |      FROM part, supplier, lineitem, orders, nation
      |      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |        AND p_name LIKE '%red%') profit
      |GROUP BY nation, o_year""".stripMargin

  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    Seq("part", "supplier", "lineitem", "orders", "nation")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(productProfitSql)
  }

  /** TPC-H Q11 shape (important stock) — the SAME aggregate at TWO
    * granularities: per-part value totals filtered against a scalar
    * threshold derived from the GLOBAL total of the identical
    * join+filter chain. The planner computes the chain twice (once
    * grouped, once global) — both hashed, never nested-loop — and the
    * threshold arrives as one scalar broadcast into the HAVING filter.
    * Q11's literal fraction (0.0001/SF) is scale-DEPENDENT by spec —
    * at 10× the parts the same fraction selects nothing — so this
    * shape uses the scale-FREE form: parts whose value exceeds 2× the
    * mean per-part value (threshold = 2·total/count(DISTINCT part)).
    * Both compare operands ride the exact-DECIMAL → string-cast →
    * DOUBLE discipline (decimal DIVISION rounding rules differ across
    * engines, so the ÷count happens in doubles: ×2 is exact, ÷int is
    * one correctly-rounded IEEE op from identical operands — the
    * compare is bit-deterministic). Identical SQL text is the oracle. */
  val importantStockSql: String =
    """SELECT ps_partkey, value
      |FROM (SELECT l_partkey AS ps_partkey,
      |             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS value
      |      FROM lineitem, supplier, nation
      |      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |        AND n_name = 'NATION_3'
      |      GROUP BY l_partkey) agg
      |WHERE value > (SELECT 2 * CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
      |                     / COUNT(DISTINCT l_partkey)
      |               FROM lineitem, supplier, nation
      |               WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |                 AND n_name = 'NATION_3')""".stripMargin

  def importantStock(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "supplier", "nation")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(importantStockSql)
  }

  /** TPC-H Q12 shape (shipping-mode priority) — the dual CASE-count
    * pivot: one orders ⋈ lineitem pass where BOTH output columns are
    * conditional counts over the same rows (urgent-vs-not priority),
    * grouped by a line attribute. The date window pushes to the fact
    * scan; orders joins once and the CASE pair evaluates post-join in
    * the same aggregate — two passes here doubles the biggest scan at
    * 100 TB. The schema has no l_shipmode/commitdate/receiptdate, so
    * the group key is l_linestatus and the window rides l_shipdate —
    * same shape, same predicate classes. Counts are integers: exact
    * in any engine, but SUM-of-int is BIGINT in Spark vs HUGEINT in
    * DuckDB (which pandas floats), so both casts are explicit.
    * Identical SQL text is the oracle. */
  val shipmodePrioritySql: String =
    """SELECT l_linestatus,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_linestatus""".stripMargin

  def shipmodePriority(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(shipmodePrioritySql)
  }

  /** TPC-H Q16 shape (parts/supplier relationship) — COUNT(DISTINCT)
    * under a NOT-IN exclusion: supplier counts per (brand, type, size)
    * bucket where the counted key is itself filtered by an
    * uncorrelated NOT IN subquery (complaint suppliers — here the
    * negative-balance set, same predicate class as the reference's
    * LIKE-on-comment). The planner composes a null-aware anti join
    * INTO the distinct-aggregate pipeline — the distinct dedup and
    * the exclusion must share one shuffle, not two. partsupp is the
    * lineitem-derived DISTINCT (partkey, suppkey) relation. NOT LIKE
    * and IN-list predicates push to the part scan. Counts are exact.
    * Identical SQL text is the oracle. */
  val partsSupplierCountSql: String =
    """WITH partsupp AS (
      |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |  FROM lineitem)
      |SELECT p_brand, p_type, p_size,
      |       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM partsupp, part
      |WHERE p_partkey = ps_partkey
      |  AND p_brand <> 'Brand#23'
      |  AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                         WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size""".stripMargin

  def partsSupplierCount(spark: SparkSession, dir: String): DataFrame = {
    Seq("part", "supplier")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    registerPartsupp(spark, dir)
    // the memo's group-by keys are already the DISTINCT pair set the
    // CTE derives — the view projection IS the CTE
    spark.sql(sansPartsuppCte(partsSupplierCountSql))
  }

  /** TPC-H Q20 shape (potential part promotion) — the NESTED-IN
    * chain: suppliers selected by an IN over a derived relation that
    * is itself filtered by (a) an inner IN over a LIKE-filtered part
    * set and (b) a CORRELATED half-sum threshold re-reading the fact
    * with extra predicates (`availqty > 0.5 × that part+supplier's
    * shipped quantity in 1996`). Three nesting levels deep, two of
    * them decorrelated to hashed semi joins and one to a per-(part,
    * supplier) aggregate — the classic "most-nested query in the
    * suite" planner stress. availqty is the lineitem-derived total
    * quantity per (part, supplier) in exact DECIMAL; 0.5× a DECIMAL
    * is exact in both engines (scale grows by one). Identical SQL
    * text is the oracle. */
  val potentialPromotionSql: String =
    """WITH partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS ps_availqty
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)
      |SELECT s_name, n_name
      |FROM supplier, nation
      |WHERE s_suppkey IN (
      |    SELECT ps_suppkey FROM partsupp
      |    WHERE ps_partkey IN (SELECT p_partkey FROM part
      |                         WHERE p_name LIKE 'red%')
      |      AND ps_availqty > (
      |        SELECT 0.5 * SUM(CAST(l_quantity AS DECIMAL(12,2)))
      |        FROM lineitem
      |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      |          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
      |  AND s_nationkey = n_nationkey AND n_name = 'NATION_3'""".stripMargin

  def potentialPromotion(spark: SparkSession, dir: String): DataFrame = {
    // the correlated half-sum threshold still reads lineitem directly
    // (extra predicates — not the memoized derivation); only the
    // partsupp relation itself comes from the memo
    Seq("part", "supplier", "nation")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    registerPartsupp(spark, dir)
    spark.sql(sansPartsuppCte(potentialPromotionSql))
  }

  /** Sketch aggregates: HyperLogLog++ distinct-count per event type,
    * beside the exact count. No oracle (DuckDB's approx sketch differs
    * by construction); ScalaTest pins the relative error instead. */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_pricing_summary" -> (pricingSummary _),
    "sql_correlated_subquery" -> (correlatedSubquery _),
    "sql_exists_not_in" -> (existsNotIn _),
    "sql_grouping_sets" -> (groupingSetsMix _),
    "sql_local_supplier_volume" -> (localSupplierVolume _),
    "sql_shipping_priority" -> (shippingPriority _),
    "sql_large_volume_customer" -> (largeVolumeCustomer _),
    "sql_promo_effect" -> (promoEffect _),
    "sql_customer_distribution" -> (customerDistribution _),
    "sql_order_priority_check" -> (orderPriorityCheck _),
    "sql_lateral_topk" -> (lateralTopk _),
    "sql_waiting_orders" -> (waitingOrders _),
    "sql_forecast_revenue" -> (forecastRevenue _),
    "sql_nation_volume_shipping" -> (nationVolumeShipping _),
    "sql_small_quantity_revenue" -> (smallQuantityRevenue _),
    "sql_disjunctive_revenue" -> (disjunctiveRevenue _),
    "sql_dormant_customer_balance" -> (dormantCustomerBalance _),
    "sql_market_share" -> (marketShare _),
    "sql_returned_item" -> (returnedItem _),
    "sql_top_supplier" -> (topSupplier _),
    "sql_min_cost_supplier" -> (minCostSupplier _),
    "sql_product_profit" -> (productProfit _),
    "sql_important_stock" -> (importantStock _),
    "sql_shipmode_priority" -> (shipmodePriority _),
    "sql_parts_supplier_count" -> (partsSupplierCount _),
    "sql_potential_promotion" -> (potentialPromotion _),
    "approx_distinct_users" -> (approxDistinctUsers _))

  val oracles: Map[String, String] = Map(
    "sql_pricing_summary" -> pricingSummarySql,
    "sql_correlated_subquery" -> correlatedSubquerySql,
    "sql_exists_not_in" -> existsNotInSql,
    "sql_grouping_sets" -> groupingSetsSql,
    "sql_local_supplier_volume" -> localSupplierVolumeSql,
    "sql_shipping_priority" -> shippingPrioritySql,
    "sql_large_volume_customer" -> largeVolumeCustomerSql,
    "sql_promo_effect" -> promoEffectSql,
    "sql_customer_distribution" -> customerDistributionSql,
    "sql_order_priority_check" -> orderPriorityCheckSql,
    "sql_lateral_topk" -> lateralTopkSql,
    "sql_waiting_orders" -> waitingOrdersSql,
    "sql_forecast_revenue" -> forecastRevenueSql,
    "sql_nation_volume_shipping" -> nationVolumeShippingSql,
    "sql_small_quantity_revenue" -> smallQuantityRevenueSql,
    "sql_disjunctive_revenue" -> disjunctiveRevenueSql,
    "sql_dormant_customer_balance" -> dormantCustomerBalanceSql,
    "sql_market_share" -> marketShareSql,
    "sql_returned_item" -> returnedItemSql,
    "sql_top_supplier" -> topSupplierSql,
    "sql_min_cost_supplier" -> minCostSupplierSql,
    "sql_product_profit" -> productProfitSql,
    "sql_important_stock" -> importantStockSql,
    "sql_shipmode_priority" -> shipmodePrioritySql,
    "sql_parts_supplier_count" -> partsSupplierCountSql,
    "sql_potential_promotion" -> potentialPromotionSql)
}
