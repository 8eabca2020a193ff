package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Fixpoint, SessionCaches, Tables}

/** PageRank over the customer–supplier trade network — the fourth
  * iterative-algebra family in the engine (after connected components,
  * Lloyd's k-means, and the BPE merge loop), and the canonical "many
  * rounds over one big edge table" workload.
  *
  * Graph: nodes are customers (id·2) and suppliers (id·2+1); one
  * directed edge each way per DISTINCT trading pair from
  * orders ⋈ lineitem. Bidirectional edges mean no dangling nodes, so
  * no mass-leak correction term is needed.
  *
  * Recurrence (GraphX's unnormalized form, rank = 0.15 + 0.85·inflow),
  * in int64 MICRO-UNITS so the DuckDB oracle replays it exactly:
  *
  *   rank₀(v)   = 1_000_000
  *   rankᵢ₊₁(v) = 150_000 + 85 · Σ_{u→v} (rankᵢ(u) div outdeg(u)) div 100
  *
  * Integer sums are aggregation-order-free and `div` is deterministic,
  * so STATIC_ROUNDS unrolled CTEs hash-match — same replay contract as
  * the IVF training loop (Similarity.scala) and bpe_merge_rounds.
  *
  * Scale shape: the edge+outdeg table is built ONCE and cached — each
  * round is one equi-join on src (rank flows to edges) plus one
  * aggregate on dst (inflow), both AQE-planned shuffles on graph keys;
  * nothing ever collects to the driver and no per-round state grows.
  * For unbounded rounds, [[PageRank.pagerankConverged]] runs the same
  * per-round algebra as a convergence loop.
  */
object PageRank {

  val Rounds = 6
  val RankInit = 1000000L
  val Teleport = 150000L

  /** Node-count ceiling for broadcasting the per-round rank/inflow
    * frames (the join strategy is picked deliberately). Ranks are one
    * (node, long) row per graph node: ≤10⁶ nodes is tens of MB of build state, safely inside
    * executor budgets, and broadcasting them makes each round ONE scan
    * of the cached edge frame (no per-round shuffle+sort of the edges —
    * the plan audit showed SortMergeJoin re-exchanging the 2·|pairs|
    * edge frame every round). Past the ceiling the joins fall back to
    * the planner's shuffle strategy, the only shape that survives a
    * billion-node graph. (The near-dup cluster census needs no such
    * gate: its size join is planned by AQE alone, see
    * [[graft.dedup.Dedup.neardupClusters]].) */
  val RankBroadcastMaxRows = 1000000L

  /** Broadcast the per-round small side iff the node census (memoized,
    * one count job per session+corpus) fits the ceiling. */
  private def rankSideHint(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val n = SessionCaches.memo(spark, "pagerank.nodeCount", dir) {
      cachedNodes(spark, dir).count()
    }
    if (n <= RankBroadcastMaxRows) df => broadcast(df) else identity
  }

  /** (session, corpus)-memoized edge+outdeg table — the per-CALL
    * `.cache()` alternative leaks one cached RDD per invocation for the
    * session lifetime; the memo bounds it at one entry per corpus and
    * repeated runs reuse the materialization. */
  private def cachedEdgeDeg(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.persisted(spark, "pagerank.edges", dir) {
      val pairs = Tables.load(spark, dir, "orders")
        .join(Tables.load(spark, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // one materialization feeds all rounds (the unrolled plan would
      // otherwise recompute the orders ⋈ lineitem distinct per round).
      // Cached PRE-PARTITIONED BY dst: under the broadcast gate each round streams this frame into a broadcast
      // join (partitioning preserved) and then aggregates inflow BY
      // dst — with the cache laid out on dst the per-round groupBy
      // plans with NO Exchange, so the 2·|pairs| edge rows shuffle
      // exactly once at build time instead of once per round (6 rounds
      // static, up to 50 converged). Integer sums are aggregation-
      // order-free, so the layout change cannot move the result. In
      // shuffle-fallback mode (past the broadcast ceiling) the layout
      // is simply unused — one extra build-time exchange, nothing per
      // round.
      edges.join(deg, "src").repartition(col("dst"))
    }

  /** The node set is referenced Rounds+1 times in the unrolled plan —
    * memoized alongside the edges so each reference is an in-memory
    * scan, not a recomputed distinct. */
  private def cachedNodes(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.persisted(spark, "pagerank.nodes", dir) {
      cachedEdgeDeg(spark, dir).select(col("src").as("node")).distinct()
    }

  def pagerankTradeGraph(spark: SparkSession, dir: String): DataFrame = {
    val edgeDeg = cachedEdgeDeg(spark, dir)
    val nodes = cachedNodes(spark, dir)
    val hint = rankSideHint(spark, dir)

    var ranks = nodes.withColumn("rank_u", lit(RankInit))
    for (_ <- 1 to Rounds) {
      // rank flows to edges: the rank frame (|nodes| rows) is the
      // gated-broadcast side so the cached edge frame streams un-shuffled
      val inflow = edgeDeg.join(hint(ranks), col("src") === col("node"))
        .select(col("dst"), expr("rank_u div outdeg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      ranks = nodes.join(hint(inflow), col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(Teleport) + expr("85 * coalesce(inflow, 0L) div 100")).as("rank_u"))
    }
    ranks
  }

  /** Convergence-mode PageRank — the unbounded-rounds form of the
    * static loop: iterate the identical integer recurrence until the
    * largest per-node rank change is ≤ `tol` micro-units (or
    * `maxRounds` as a backstop) through [[graft.Fixpoint]]. Each round
    * keeps the previous rank beside the new one, so the round's flag,
    * `max |rank_u − rank_prev| > tol`, is computed in the round's own
    * materialization; the eager checkpoint keeps the plan one round deep
    * no matter how many rounds convergence takes (the unrolled static
    * form doubles its plan per round, fine for 6, fatal for 60), and the
    * superseded round's blocks are freed as soon as its successor is
    * materialized.
    *
    * With `tol = 0` and `maxRounds = n` this executes exactly the
    * static n-round recurrence — PageRankSpec pins bit-equality against
    * [[pagerankTradeGraph]] on the fixture graph. Returns the last
    * round's checkpointed (node, rank_u) frame, converged or not; the
    * caller frees it ([[graft.SessionCaches.free]]). */
  def pagerankConverged(spark: SparkSession, dir: String,
                        tol: Long = 1000L,
                        maxRounds: Int = 50): DataFrame = {
    val edgeDeg = cachedEdgeDeg(spark, dir)
    val nodes = cachedNodes(spark, dir)
    val hint = rankSideHint(spark, dir)

    Fixpoint.iterate(nodes.withColumn("rank_u", lit(RankInit)), maxRounds) { r =>
      val ranks = r.state
      val inflow = edgeDeg.join(hint(ranks), col("src") === col("node"))
        .select(col("dst"), expr("rank_u div outdeg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      // ranks carries the full node set every round (it starts as
      // nodes and each step is a left join), so joining it directly
      // keeps prev and new rank in one frame for the flag
      val next = ranks.join(hint(inflow), col("node") === col("dst"), "left")
        .select(col("node"), col("rank_u").as("rank_prev"),
          (lit(Teleport) + expr("85 * coalesce(inflow, 0L) div 100")).as("rank_u"))
      (next, max(abs(col("rank_u") - col("rank_prev"))) > tol)
    }._1
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pagerank_trade_graph" -> (pagerankTradeGraph _))

  /** Each CTE is one synchronous round over the same edge table —
    * identical integer operations to the Spark loop. MATERIALIZED on
    * every round (and on the shared graph frames below) keeps DuckDB
    * from inlining all [[Rounds]] rounds into one pipeline that
    * re-derives the edge list per round — at sf3 that inlined tree
    * spilled past the sandbox disk; materialized, peak state is one
    * round's frame, as in the component oracle's CTEs. */
  private def roundCtes: Seq[String] =
    (1 to Rounds).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         $Teleport + 85 * COALESCE(CAST(SUM(r.rank_u // e.outdeg) AS BIGINT), 0) // 100 AS rank_u
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY n.node)""".stripMargin
    }

  val oracles: Map[String, String] = Map(
    "pagerank_trade_graph" ->
      s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
         |               FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |dedges AS MATERIALIZED (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
         |           UNION ALL
         |           SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS outdeg FROM dedges GROUP BY src),
         |edges AS MATERIALIZED (SELECT d.src, d.dst, g.outdeg FROM dedges d JOIN deg g ON g.src = d.src),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM dedges),
         |r0 AS (SELECT node, ${RankInit}::BIGINT AS rank_u FROM nodes),
         |${roundCtes.mkString(",\n")}
         |SELECT node, rank_u FROM r$Rounds""".stripMargin)
}
