package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SessionCaches

/** Connected components over an undirected edge list, in pure DataFrame
  * algebra (no graph library): iterative min-label propagation.
  *
  * Every node starts labeled with its own id; each round replaces a
  * node's label with the min of its own and its neighbors' labels; at
  * the fixpoint every node carries the MIN id of its component — which
  * doubles as the deterministic survivor election for dedup (min-doc_id
  * per near-dup cluster), so no separate election pass is needed.
  *
  * Scale design:
  *  - each round is one join (edges ⋈ labels on src) + one min-aggregate
  *    — both shuffle on the same key domain, nothing quadratic;
  *  - labels decrease monotonically, so convergence is detected by an
  *    exact DECIMAL(38,0) label-sum (order-independent, overflow-free)
  *    going flat — one tiny aggregate per round, no driver-side diff;
  *  - rounds needed = component DIAMETER. Near-dup clusters are
  *    near-cliques (diameter ~1-2), so this converges in 2-3 rounds; a
  *    general 100 TB graph with long chains uses [[resolveAlternating]]
  *    — the alternating large-star/small-star algorithm (Kiveris et
  *    al., SoCC'14), implemented below on the same join/agg
  *    primitives, which contracts any diameter in O(log² n) rounds
  *    worst case (spec-pinned result-equal to this mode);
  *  - each round ends in an EAGER `localCheckpoint`, which both
  *    materializes the labels and TRUNCATES the logical plan. The
  *    truncation is load-bearing, not hygiene: `next` references
  *    `labels` twice (union branch + propagation join), so without it
  *    the plan DOUBLES per round — at diameter ~8 the explain string
  *    AQE renders per plan update is already hundreds of MB and OOMs
  *    the driver (caught by the random-graph spec). With the
  *    checkpoint every round starts from a constant-size LogicalRDD.
  *    On a real cluster, pass `checkpointDir` to swap
  *    `localCheckpoint` (lost on executor failure) for reliable
  *    `checkpoint` against shared storage — same truncation,
  *    failure-tolerant. The swap is a parameter, not an edit.
  *
  * Fails loudly (IllegalStateException) if `maxIters` rounds pass
  * without convergence — a silently-unconverged labeling would be
  * WRONG, not just slow.
  */
object ConnectedComponents {

  /** Per-round truncation for one resolution. Eager checkpoint, not
    * persist: it truncates the logical plan each round (see object
    * Scaladoc — the plan doubles per round otherwise) AND materializes
    * the frame in one move. `discard` frees a superseded round's
    * blocks and, in reliable mode, its ReliableCheckpointRDD directory
    * (the fs handle comes from the frame's own conf). */
  private final class Rounds(sc: SparkContext, checkpointDir: Option[String]) {
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)

    def discard(df: DataFrame): Unit = {
      SessionCaches.free(df)
      if (checkpointDir.isDefined) df.queryExecution.logical match {
        case lr: LogicalRDD =>
          lr.rdd.getCheckpointFile.foreach { f =>
            val p = new Path(f)
            p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
          }
        case _ => ()
      }
    }
  }

  /** Run `body` with the GLOBAL checkpoint dir scoped to
    * `checkpointDir`: the session's own setting (even when unset) is
    * put back once resolution finishes. */
  private def withRounds[A](sc: SparkContext, checkpointDir: Option[String])
                           (body: Rounds => A): A = {
    val priorDir = org.apache.spark.graft.CheckpointDirAccessor.get(sc)
    checkpointDir.foreach(sc.setCheckpointDir)
    try body(new Rounds(sc, checkpointDir))
    finally org.apache.spark.graft.CheckpointDirAccessor.restore(sc, priorDir)
  }

  /** @param edges     two-column frame of undirected edges
    * @param srcCol    left endpoint column name
    * @param dstCol    right endpoint column name
    * @param maxIters  loud-failure bound on propagation rounds
    * @param checkpointDir when set, per-round truncation uses RELIABLE
    *                  `checkpoint` into this (shared-storage) path —
    *                  the cluster-grade mode that survives executor
    *                  loss; when None, `localCheckpoint` (executor
    *                  blocks — right for local[k] and fastest).
    *                  Hygiene (round-4 advice): the session's global
    *                  checkpoint dir is restored on exit (even to
    *                  None), so the override never leaks to other
    *                  users of a shared session; and each round's
    *                  checkpoint files are deleted as soon as the next
    *                  round is materialized, so a long run holds at
    *                  most two round snapshots in shared storage, not
    *                  one per round. Only the RETURNED frame's files
    *                  survive — callers own that cleanup (or rely on
    *                  `spark.cleaner.referenceTracking
    *                  .cleanCheckpoints`).
    * @return columns (id, label): one row per distinct node in
    *         `edges`, label = min node id of its component. The
    *         returned frame is checkpointed (materialized); callers
    *         own its release ([[graft.SessionCaches.free]]).
    */
  def resolve(edges: DataFrame, srcCol: String, dstCol: String,
              maxIters: Int = 50,
              checkpointDir: Option[String] = None): DataFrame =
    withRounds(edges.sparkSession.sparkContext, checkpointDir) { r =>
      val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      // symmetrize once; both propagation sides read this frame each round
      val sym = SessionCaches.persist(
        e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())

      var labels = r.truncate(sym.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
      var prevSum: Option[java.math.BigDecimal] = None
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val prop = sym.join(labels, sym("src") === labels("id"))
          .select(sym("dst").as("id"), labels("label"))
        val next = r.truncate(labels.select("id", "label").union(prop)
          .groupBy("id").agg(min("label").as("label")))
        // null sum <=> empty node set: trivially converged
        val s = Option(next.agg(sum(col("label").cast(DecimalType(38, 0))))
          .head().getDecimal(0))
        converged = s.isEmpty ||
          prevSum.exists(_.compareTo(s.get) == 0)
        if (converged) r.discard(next) // fixpoint: next == labels elementwise
        else {
          r.discard(labels) // next is materialized; round N is done
          labels = next
          prevSum = s
          iter += 1
        }
      }
      sym.unpersist()
      if (!converged) {
        r.discard(labels)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIters rounds")
      }
      labels
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
    * label frame. Convergence check per round: edge count equal AND
    * one-sided set-difference empty (both sides are `distinct`
    * frames, so count+⊆ ⇔ equality) — two tiny jobs on frames
    * already materialized by the round's checkpoint.
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
      checkpointDir: Option[String] = None): (DataFrame, Int) =
    withRounds(edges.sparkSession.sparkContext, checkpointDir) { r =>
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
    // that whole neighborhood AND u itself to it (minus m's self-link)
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("src").agg(min(col("dst")).as("m"))
      val relink = e.join(m, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      relink.union(m.select(col("src"), col("m").as("dst")))
        .distinct()
    }

      val raw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      // the node universe (kept through to the label read-off: star
      // contraction drops self-loop-only and fully-contracted nodes
      // from the edge frame, but the contract is one row per node)
      val nodes = r.truncate(
        raw.select(col("src").as("id"))
          .union(raw.select(col("dst").as("id"))).distinct())
      var e = r.truncate(raw.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct())
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val next = r.truncate(smallStar(largeStar(e)))
        // equality of two distinct frames: |next| = |e| and next ⊆ e
        converged = next.count() == e.count() &&
          next.except(e).isEmpty
        if (!converged) {
          r.discard(e)
          e = next
          iter += 1
        } else {
          r.discard(next)
        }
      }
      if (!converged) {
        r.discard(nodes)
        r.discard(e)
        throw new IllegalStateException(
          s"alternating connected components did not converge in $maxIters rounds")
      }
      // fixpoint edges are stars (v → component min): labels read off
      // as each node's out-neighbor, roots (and self-loop-only nodes)
      // label themselves
      val labels = nodes
        .join(e.select(col("src").as("id"), col("dst").as("star")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("star"), col("id")).as("label"))
      val out = r.truncate(labels)
      r.discard(nodes)
      r.discard(e)
      (out, iter + 1)
    }
}
