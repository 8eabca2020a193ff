package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Fixpoint, SessionCaches}

/** Connected components over an undirected edge list, in pure DataFrame
  * algebra (no graph library): iterative min-label propagation.
  *
  * Every node starts labeled with the min id of its closed neighborhood
  * (itself and its neighbors, read off the aggregate that collects the
  * node set); each round replaces a node's label with the min of its
  * own and its neighbors' labels; at the fixpoint every node carries
  * the MIN id of its component — which doubles as the deterministic
  * survivor election for dedup (min-doc_id per near-dup cluster), so
  * no separate election pass is needed.
  *
  * Scale design:
  *  - each round is one join (edges ⋈ labels on src) + one min-aggregate
  *    — both shuffle on the same key domain, nothing quadratic;
  *  - the same aggregate keeps each node's own label beside the new
  *    one, so the round's changed-row flag (some label dropped) is
  *    computed in the round's own job ([[graft.Fixpoint]]): no
  *    separate convergence action;
  *  - rounds needed = component DIAMETER (the seed already covers one
  *    hop, and the last round confirms nothing moved). Near-dup clusters
  *    are near-cliques (diameter ~1-2), so this converges in 1-2
  *    rounds; a general graph with long chains uses
  *    [[resolveAlternating]] — the alternating
  *    large-star/small-star algorithm (Kiveris et al., SoCC'14),
  *    implemented below on the same join/agg primitives, which
  *    contracts any diameter in O(log² n) rounds worst case
  *    (spec-pinned result-equal to this mode);
  *  - each round ends in an eager checkpoint, which both materializes
  *    the labels and TRUNCATES the logical plan. The truncation is
  *    load-bearing, not hygiene: `next` references `labels` twice
  *    (union branch + propagation join), so without it the plan
  *    DOUBLES per round — at diameter ~8 the explain string AQE
  *    renders per plan update is already hundreds of MB and OOMs the
  *    driver (caught by the random-graph spec). With the checkpoint
  *    every round starts from a constant-size LogicalRDD. On a real
  *    cluster, pass `checkpointDir` to swap `localCheckpoint` (lost on
  *    executor failure) for reliable `checkpoint` against shared
  *    storage — same truncation, failure-tolerant.
  *
  * Fails loudly (IllegalStateException) if `maxIters` rounds pass
  * without convergence — a silently-unconverged labeling would be
  * WRONG, not just slow.
  */
object ConnectedComponents {

  /** [[Fixpoint.iterate]], failing loudly without a fixpoint: the
    * unconverged state is freed and `what` names the mode. */
  private def converge(init: DataFrame, maxIters: Int, checkpointDir: Option[String],
                       what: String)
                      (step: Fixpoint.Round => (DataFrame, Column)): (DataFrame, Int) = {
    val (state, rounds, converged) = Fixpoint.iterate(init, maxIters, checkpointDir)(step)
    if (!converged) {
      SessionCaches.free(state)
      throw new IllegalStateException(s"$what did not converge in $maxIters rounds")
    }
    (state, rounds)
  }

  /** @param edges     two-column frame of undirected edges
    * @param srcCol    left endpoint column name
    * @param dstCol    right endpoint column name
    * @param maxIters  loud-failure bound on propagation rounds
    * @param checkpointDir when set, per-round truncation uses RELIABLE
    *                  `checkpoint` into this (shared-storage) path —
    *                  the cluster-grade mode that survives executor
    *                  loss; when None, `localCheckpoint` (executor
    *                  blocks — right for local[k] and fastest). The
    *                  session's global checkpoint dir is restored on
    *                  exit (even to None), and each round's checkpoint
    *                  files are deleted as soon as the next round is
    *                  materialized, so a long run holds at most two
    *                  round snapshots in shared storage. Only the
    *                  RETURNED frame's files survive, until the caller
    *                  frees it.
    * @return columns (id, label): one row per distinct node in
    *         `edges`, label = min node id of its component. The
    *         returned frame is checkpointed (materialized); callers
    *         own its release ([[graft.SessionCaches.free]]).
    */
  def resolve(edges: DataFrame, srcCol: String, dstCol: String,
              maxIters: Int = 50,
              checkpointDir: Option[String] = None): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // symmetrize once; both propagation sides read this frame each round
    val sym = SessionCaches.persist(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    // one-hop seed: each node starts at the min of its closed neighborhood
    val init = sym.groupBy("src").agg(least(col("src"), min(col("dst"))).as("label"))
      .withColumnRenamed("src", "id")
    try converge(init, maxIters, checkpointDir, "connected components") { r =>
      val labels = r.state
      val prop = sym.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"))
      val next = labels.withColumn("own", col("label"))
        .union(prop.withColumn("own", lit(null).cast("long")))
        .groupBy("id").agg(min("label").as("label"), min("own").as("own"))
      (next, max(col("label") < col("own")))
    }._1
    finally { sym.unpersist(); () }
  }

  /** Alternating large-star/small-star connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the
    * long-diameter mode [[resolve]]'s Scaladoc promises: label
    * propagation needs DIAMETER rounds (right for near-clique dup
    * families, hopeless for a 10⁶-node chain); the alternating
    * star operations contract any graph in O(log² n) rounds worst
    * case (O(log n) in practice — pointer-doubling-style collapse),
    * using the same join/agg primitives and per-round checkpoint
    * truncation.
    *
    * One round:
    *  - large-star: every node u links each STRICTLY LARGER neighbor
    *    v to m(u) = min(N(u) ∪ {u}) over the symmetrized adjacency;
    *  - small-star: on the (hi → lo)-oriented result, every node u
    *    links its ≤-neighbors and itself to m(u) = min of that set.
    *
    * Both preserve connectivity and never raise a node's minimum
    * reachable id; at the fixpoint (edge set stable) every component
    * is a star rooted at its minimum id, read off directly as the
    * label frame. The round's flag is "the edge set changed": one
    * aggregation both deduplicates the small-star output and groups it
    * with the round's input edges, so an edge seen on one side only
    * sets the flag inside the round's own job.
    *
    * Result contract is [[resolve]]'s exactly: one (id, label =
    * component min id) row per distinct node of `edges`
    * (ConnectedComponentsSpec pins result-equality on random and
    * long-chain graphs). */
  def resolveAlternating(edges: DataFrame, srcCol: String, dstCol: String,
                         maxIters: Int = 50,
                         checkpointDir: Option[String] = None): DataFrame =
    resolveAlternatingWithRounds(edges, srcCol, dstCol, maxIters,
      checkpointDir)._1

  /** [[resolveAlternating]] plus the round count it converged in —
    * the spec asserts the logarithmic bound on a chain graph. */
  private[graft] def resolveAlternatingWithRounds(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    // m(u) = min(N(u) ∪ {u}) over the symmetrized frame, then link
    // strictly larger neighbors to it; emitted edges are naturally
    // (hi → lo) oriented since m ≤ u < v
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      sym.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    // input already (hi → lo); m(u) = min of the ≤-neighborhood, link
    // that whole neighborhood AND u itself to it (minus m's self-link).
    // Not deduplicated here: the round's comparison groups by edge.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("src").agg(min(col("dst")).as("m"))
      val relink = e.join(m, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      relink.union(m.select(col("src"), col("m").as("dst")))
    }

    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val init = raw.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
    val (stars, rounds) = converge(init, maxIters, checkpointDir,
        "alternating connected components") { r =>
      // an edge the previous round dropped is kept as a null row (see
      // below): it joins nothing and is skipped here
      val e = r.state.filter(col("src").isNotNull)
      // side bits: 1 = an input edge, 2 = an output edge, 3 = both
      val sides = smallStar(largeStar(e)).withColumn("side", lit(2))
        .union(e.withColumn("side", lit(1)))
        .groupBy("src", "dst").agg(bit_or(col("side")).as("side"))
      val out = col("side") >= 2
      (sides.select(when(out, col("src")).as("src"), when(out, col("dst")).as("dst"),
          col("side")),
        max(col("side") =!= 3))
    }
    // the node universe: star contraction drops self-loop-only and
    // fully-contracted nodes from the edge frame, but the contract is
    // one row per node. Fixpoint edges are stars (v → component min):
    // labels read off as each node's out-neighbor, roots (and
    // self-loop-only nodes) label themselves
    val nodes = raw.select(col("src").as("id"))
      .union(raw.select(col("dst").as("id"))).distinct()
    val labels = nodes
      .join(stars.select(col("src").as("id"), col("dst").as("star")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("star"), col("id")).as("label"))
    val out = Fixpoint.truncate(labels, checkpointDir)
    SessionCaches.free(stars)
    (out, rounds)
  }
}
