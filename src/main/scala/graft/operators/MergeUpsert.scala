package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables

/** CDC MERGE / upsert — the lakehouse `MERGE INTO` semantics (update
  * matched keys, insert unmatched keys) expressed in plain DataFrame
  * algebra, no table format required: tag base rows version 0 and
  * change rows version 1, union, and keep each key's max
  * `struct(version, payload)` — one shuffle on the merge key, the
  * minimum any merge pays. This is merge-ON-READ; the snapshot write
  * that follows it is merge-on-write. At 100 TB both sides partition
  * by the key; when the change batch is small (the usual CDC case)
  * AQE broadcasts it and the base never shuffles at all.
  *
  * The lexicographic `max(struct(...))` idiom is the same
  * deterministic survivor election the dedup family uses — version
  * leads, so a change row always beats its base row; DuckDB's
  * `max(struct_pack(...))` compares identically, which makes the whole
  * merge oracle-able.
  *
  * The change batch is SYNTHESIZED from the base (updates: every 10th
  * order key gets status 'U' and +10.00 price; inserts: every 100th
  * key re-keyed past max(o_orderkey)) — the synthesize-then-process
  * idiom that lets the oracle rebuild the identical batch from the
  * raw table and replay the merge relationally. The output aggregates
  * the merged snapshot per status, so a dropped insert, a duplicated
  * key, or an unapplied update all shift the counts/sums. */
object MergeUpsert {

  /** The (base, merged) snapshot pair behind [[mergeUpsertOrders]] —
    * also the input of [[snapshotDiff]]'s audit. */
  private def upsertSnapshots(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    val maxKey = base.agg(max("k").as("mk"))
    val updates = base.filter(col("k") % 10 === 0)
      .select(col("k"), lit("U").as("status"),
        (col("price") + lit(10.0)).as("price"))
    val inserts = base.filter(col("k") % 100 === 0)
      .crossJoin(broadcast(maxKey))
      // + mk + 1, not + mk: keys start at 0, so k=0 re-keyed to plain
      // mk would COLLIDE with the base max key and the "insert" would
      // silently overwrite an existing row (caught by MergeUpsertSpec)
      .select((col("k") + col("mk") + lit(1)).as("k"), lit("I").as("status"),
        lit(99.99).as("price"))
    val changes = updates.unionByName(inserts)
    val merged = base.withColumn("v", lit(0))
      .unionByName(changes.withColumn("v", lit(1)))
      .groupBy("k")
      .agg(max(struct(col("v"), col("status"), col("price"))).as("top"))
      .select(col("k"), col("top.status").as("status"), col("top.price").as("price"))
    (base, merged)
  }

  def mergeUpsertOrders(spark: SparkSession, dir: String): DataFrame = {
    val (_, merged) = upsertSnapshots(spark, dir)
    merged.groupBy("status")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
  }

  /** Snapshot diff — the audit a merge pipeline runs AFTER a merge
    * lands: per change category, how many keys and how much value
    * moved between snapshot A (the base) and snapshot B (the merged
    * result). One full-outer join on the key; a key is `added` (B
    * only), `removed` (A only), `changed` (both sides, any column
    * differs), or `unchanged`. Under upsert-only merge `removed` is
    * structurally impossible — the oracle recomputes the diff from
    * scratch, so a merge that DROPPED a key would surface as a
    * `removed` row the oracle doesn't have (hash mismatch), which is
    * the failure the audit exists to catch. Value deltas in exact
    * DECIMAL. At 100 TB this is one co-partitioned join between two
    * snapshot versions (both hash on the merge key — with bucketed or
    * Delta/Iceberg storage it is shuffle-free) and a four-row output. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val (base, merged) = upsertSnapshots(spark, dir)
    val a = base.select(col("k"),
      col("status").as("a_status"), col("price").as("a_price"))
    val b = merged.select(col("k"),
      col("status").as("b_status"), col("price").as("b_price"))
    val dec = (c: org.apache.spark.sql.Column) =>
      coalesce(c.cast(DecimalType(18, 2)), lit(0).cast(DecimalType(18, 2)))
    a.join(b, Seq("k"), "full_outer")
      .select(
        when(col("a_status").isNull, "added")
          .when(col("b_status").isNull, "removed")
          .when(col("a_status") =!= col("b_status")
            || col("a_price") =!= col("b_price"), "changed")
          .otherwise("unchanged").as("category"),
        (dec(col("b_price")) - dec(col("a_price"))).as("delta"))
      .groupBy("category")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("delta")).cast(DoubleType).as("price_delta"))
  }

  // ---- snapshot log + time travel ----

  /** Snapshot-log generations are `gen=<n>` partition directories, an
    * [[graft.IndexStore]] generation log. */
  private val Gen = "gen="

  /** Append `df` as the next generation of the snapshot log at `root`
    * (a minimal Delta-style version log: every publish is a NEW
    * immutable generation, staged out of sight and claimed by atomic
    * rename, never an overwrite of a readable one, so in-flight readers
    * of gen n are undisturbed by the publish of n+1). Returns the
    * generation id. */
  def appendSnapshot(root: java.io.File, df: DataFrame): Int =
    graft.IndexStore.publishVersion(root, Gen) { d =>
      df.write.mode("overwrite").parquet(d.getAbsolutePath)
    }._2.toInt

  /** Time travel: read the snapshot log as of `back` generations before
    * the newest (back = 0 → current, 1 → the pre-publish state, …).
    * The read is a partition-pruned scan — `gen` is a partition column,
    * so only the target generation's files are touched; at 100 TB the
    * historical generations cost nothing until someone asks for them,
    * and retention is a directory sweep of generations past the policy
    * window. */
  def readAsOf(spark: SparkSession, root: java.io.File, back: Int): DataFrame = {
    val gens = graft.IndexStore.versionsAt(root, Gen)
    require(back >= 0 && back < gens.length,
      s"snapshot log at $root has ${gens.length} generations; cannot go back $back")
    spark.read.parquet(root.getAbsolutePath)
      .filter(col("gen") === gens(back)._2.toInt)
      .drop("gen")
  }

  /** Retention: drop every generation except the newest `keep`,
    * physically — the EXPIRE verb that completes the snapshot-log
    * lifecycle (merge / tombstones / diff / compact / as-of / expire).
    * Without it `gen=N` partitions accumulate forever: harmless to
    * readers (partition pruning never touches them) but unbounded
    * storage, and at 100 TB per snapshot the retention sweep is the
    * difference between a version log and a hoard. Deleting whole
    * generation directories is safe by the log's own invariant — every
    * publish is a NEW immutable generation, so no surviving generation
    * shares files with an expired one (the same reasoning as
    * [[graft.streaming.IngestDedup.sweepTombstones]]'s pairing with
    * compaction). [[readAsOf]] within the window is untouched; beyond
    * it the existing bounds check fails LOUDLY — an expired generation
    * reads as "gone", never as silently-wrong data. Returns the
    * survivors, ascending. */
  def expireSnapshots(root: java.io.File, keep: Int): Seq[Int] = {
    graft.IndexStore.expireVersionsAt(root, Gen, keep)
    graft.IndexStore.versionsAt(root, Gen).map(_._2.toInt).reverse
  }

  /** The orders snapshot log: gen 0 = the pre-merge base, gen 1 = the
    * merged result of [[mergeUpsertOrders]]'s publish. Built once per
    * corpus fingerprint and atomically published
    * ([[graft.IndexStore.getOrBuildLayout]]). */
  private def ordersSnapshotLog(spark: SparkSession, dir: String): java.io.File =
    graft.IndexStore.getOrBuildLayout(spark, dir, "orders",
      "orders_snapshot_log") { root =>
      val (base, merged) = upsertSnapshots(spark, dir)
      appendSnapshot(root, base)
      appendSnapshot(root, merged)
      ()
    }

  /** Declared time-travel query — the read half of the lakehouse verb
    * set the merge family writes (merge / tombstones / diff / compact /
    * AS-OF): after the merge publish, read the log as of one generation
    * BACK and aggregate it. The oracle replays the pre-merge state from
    * the raw orders table, so a publish that overwrote the old
    * generation in place, a log that mis-ordered generations, or an
    * as-of read that leaked post-merge rows all break the hash. */
  def snapshotReadAsof(spark: SparkSession, dir: String): DataFrame =
    readAsOf(spark, ordersSnapshotLog(spark, dir), back = 1)
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))

  /** A 3-generation log (gen 0 = base, gen 1 = the upsert-merged
    * snapshot, gen 2 = the CDC-merged state) with retention ALREADY
    * applied at publish time (newest [[graft.IndexStore.RetentionKeep]]
    * kept): the expire runs inside the atomic build, so concurrent
    * readers only ever see the post-retention layout — the same
    * publish-then-read discipline every artifact here follows. */
  private def ordersExpireLog(spark: SparkSession, dir: String): java.io.File =
    graft.IndexStore.getOrBuildLayout(spark, dir, "orders",
      "orders_expire_log") { root =>
      val (base, merged) = upsertSnapshots(spark, dir)
      appendSnapshot(root, base)
      appendSnapshot(root, merged)
      appendSnapshot(root, applyCdc(base, cdcFeed(base)))
      val survivors = expireSnapshots(root, graft.IndexStore.RetentionKeep)
      require(survivors == Seq(1, 2), s"expire left $survivors")
      ()
    }

  /** Declared retention query: publish three generations, expire past
    * the [[graft.IndexStore.RetentionKeep]] window, and census the
    * SURVIVORS per generation. The oracle recomputes both surviving
    * snapshots from the raw table — so an expire that dropped the wrong
    * generation, leaked expired rows into a read, or renumbered
    * survivors all break the hash, and gen 0's absence from the output
    * is itself under the row-count check. */
  def snapshotExpire(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ordersExpireLog(spark, dir).getAbsolutePath)
      .groupBy(col("gen").cast("long").as("gen"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))

  /** Full-CDC survivor election over a versioned change feed with an
    * `op` column (`U` upsert / `D` delete): per key, the
    * highest-version row wins — base rows are version 0 upserts — and
    * a winning delete removes the key entirely. Exposed on an explicit
    * (base, feed) pair so MergeUpsertSpec can replay delete-then-
    * reinsert and update-then-delete orderings on a hand-built feed.
    *
    * Shape: ONE shuffle on the merge key (the union is
    * partition-local), same as [[mergeUpsertOrders]]; the tombstone
    * filter is a post-aggregation narrow map. At 100 TB the delete is
    * logical — the key drops out of the merged READ view here, and the
    * physical rewrite happens whenever the snapshot is next compacted
    * (retention policy), which is how delta/iceberg merge-on-read
    * handles deletes too. */
  def applyCdc(base: DataFrame, feed: DataFrame): DataFrame =
    base.select(col("k"), lit(0L).as("v"), lit("U").as("op"),
        col("status"), col("price"))
      .unionByName(feed.select(col("k"), col("v"), col("op"),
        col("status"), col("price")))
      .groupBy("k")
      .agg(max(struct(col("v"), col("op"), col("status"), col("price")))
        .as("top"))
      .filter(col("top.op") =!= "D")
      .select(col("k"), col("top.status").as("status"),
        col("top.price").as("price"))

  /** Declared tombstone query: a three-version synthesized feed where
    * every 10th key is updated (v1), every 20th then deleted (v2), and
    * every 40th re-inserted after its delete (v3) — so the final state
    * exercises update-survives, delete-drops, and the
    * delete-then-reinsert ordering in one run. Aggregated per status so
    * an undropped tombstone, a lost reinsert, or a misordered election
    * all shift the counts. */
  /** The synthesized three-version change feed over a (k, status,
    * price) base — shared by [[mergeCdcOrders]] and the expire log's
    * gen-2 publish. */
  private def cdcFeed(base: DataFrame): DataFrame = {
    val v1 = base.filter(col("k") % 10 === 0)
      .select(col("k"), lit(1L).as("v"), lit("U").as("op"),
        lit("U").as("status"), (col("price") + lit(10.0)).as("price"))
    val v2 = base.filter(col("k") % 20 === 0)
      .select(col("k"), lit(2L).as("v"), lit("D").as("op"),
        lit("X").as("status"), lit(0.0).as("price"))
    val v3 = base.filter(col("k") % 40 === 0)
      .select(col("k"), lit(3L).as("v"), lit("U").as("op"),
        lit("R").as("status"), lit(50.0).as("price"))
    v1.unionByName(v2).unionByName(v3)
  }

  def mergeCdcOrders(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    applyCdc(base, cdcFeed(base))
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
  }

  /** Incremental materialized-view maintenance: merge two PARTIAL
    * aggregate states instead of re-aggregating raw data. The rollup
    * (per day × event type: count, DECIMAL-exact sum, min, max) is
    * computed as two independent partials — here split on event-id
    * parity so every group genuinely has state on BOTH sides — and the
    * merge is the aggregates' own combine algebra: counts add, DECIMAL
    * sums add (associative, so the merged total is bit-equal to a full
    * recompute — that is what makes it oracle-able), mins min, maxes
    * max. This is THE 100 TB rollup-maintenance pattern: a daily ingest
    * updates the materialized view at O(delta + view) cost — the
    * petabyte of already-rolled-up history is never rescanned, only
    * its partial states are re-combined. Same contract as Spark's own
    * partial/final aggregation split, lifted to the storage layer. */
  def incrementalRollupMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(expr("ts div 1000 div 86400000000").as("day"),
        col("event_type"), col("event_id"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    def partial(rows: DataFrame): DataFrame =
      rows.groupBy("day", "event_type").agg(
        count(lit(1)).as("n"), sum("v").as("total"),
        min("v").as("min_v"), max("v").as("max_v"))
    val view = partial(ev.filter(col("event_id") % 2 === 0)) // "history"
    val delta = partial(ev.filter(col("event_id") % 2 === 1)) // "today"
    view.unionByName(delta)
      .groupBy("day", "event_type")
      .agg(sum("n").as("n"),
        sum("total").cast(DoubleType).as("total"),
        min("min_v").cast(DoubleType).as("min_v"),
        max("max_v").cast(DoubleType).as("max_v"))
  }

  /** RETRACTION — the hard half of incremental view maintenance:
    * apply a GDPR-style user-delete batch to a materialized rollup by
    * SUBTRACTING the deleted users' partial states, never rescanning
    * history. Only works for additive aggregates (counts and DECIMAL
    * sums form a group under +/−; min/max do NOT retract — a deleted
    * row that held the min forces a recompute of that group, which is
    * why this view carries no min/max and
    * [[incrementalRollupMerge]]'s does). The deleted set here is
    * `user_id % 50 = 0` (a synthetic erasure request batch); the
    * oracle recomputes from scratch WITHOUT those users — the
    * subtracted view must be indistinguishable from it, including the
    * disappearance of groups whose count reaches zero. Scale shape:
    * O(view + deleted-users' partials), the petabyte of history is
    * untouched — the same contract as the merge twin, extended to
    * deletes. */
  def retractionRollup(spark: SparkSession, dir: String): DataFrame =
    retractionRollupOf(
      Tables.load(spark, dir, "events")
        .select(col("event_type"), col("user_id"), col("value")),
      col("user_id") % 50 === 0)

  /** [[retractionRollup]] over an explicit (event_type, user_id,
    * value) frame and erasure predicate — split out so the spec can
    * delete an entire group and watch it vanish at count zero. */
  def retractionRollupOf(events: DataFrame, erased: Column): DataFrame = {
    val ev = events.select(col("event_type"), col("user_id"),
      col("value").cast(DecimalType(18, 2)).as("v"))
    def partial(rows: DataFrame): DataFrame =
      rows.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("v").as("total"))
    val view = partial(ev)                  // materialized
    val gone = partial(ev.filter(erased))   // erasure batch
      .select(col("event_type"),
        (-col("n")).as("n"), (-col("total")).as("total"))
    view.unionByName(gone)
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("total").as("t"))
      .filter(col("n") > 0)
      .select(col("event_type"), col("n"),
        col("t").cast(DoubleType).as("total"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "merge_upsert_orders" -> (mergeUpsertOrders _),
    "snapshot_diff" -> (snapshotDiff _),
    "snapshot_read_asof" -> (snapshotReadAsof _),
    "snapshot_expire" -> (snapshotExpire _),
    "merge_cdc_tombstones" -> (mergeCdcOrders _),
    "incremental_rollup_merge" -> (incrementalRollupMerge _),
    "retraction_rollup" -> (retractionRollup _))

  val oracles: Map[String, String] = Map(
    // as-of one generation back == the PRE-merge snapshot, replayed
    // from the raw table — certifies reader-visible handoff across a
    // versioned publish
    "snapshot_read_asof" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY 1""".stripMargin,
    // the oracle is the FULL recompute WITHOUT the erased users — the
    // subtracted view must be indistinguishable from it, including
    // groups that vanish at count zero
    "retraction_rollup" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |WHERE user_id % 50 <> 0
        |GROUP BY event_type""".stripMargin,
    // the oracle is the FULL recompute — the merged partials must be
    // indistinguishable from aggregating the raw table in one pass
    "incremental_rollup_merge" ->
      """SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, event_type,
        |       count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
        |       CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_v
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    // both merge oracles elect the survivor with arg_max(col, v)
    // rather than mirroring Spark's max(struct(v, …)): version tags
    // are unique per key so the two are equivalent, and DuckDB 1.0's
    // struct-max aggregate degenerates at sf1 row counts (>5 min and
    // an unbounded-memory grouping that OOM'd the gate; arg_max runs
    // the same merge in milliseconds)
    "merge_upsert_orders" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
        |  FROM orders),
        |mk AS (SELECT max(k) AS mk FROM base),
        |changes AS (
        |  SELECT k, 'U' AS status, price + 10.0 AS price
        |  FROM base WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k + mk + 1 AS k, 'I' AS status, 99.99 AS price
        |  FROM base, mk WHERE k % 100 = 0),
        |tagged AS (
        |  SELECT k, 0 AS v, status, price FROM base
        |  UNION ALL
        |  SELECT k, 1 AS v, status, price FROM changes),
        |merged AS (
        |  SELECT k, arg_max(status, v) AS status, arg_max(price, v) AS price
        |  FROM tagged GROUP BY k)
        |SELECT status, count(*) AS n_rows,
        |       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM merged
        |GROUP BY status""".stripMargin,
    // the diff recomputed from scratch: same synthesized changes,
    // same arg_max merge, full outer on the key, exact DECIMAL deltas
    "snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
        |  FROM orders),
        |mk AS (SELECT max(k) AS mk FROM base),
        |changes AS (
        |  SELECT k, 'U' AS status, price + 10.0 AS price
        |  FROM base WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k + mk + 1 AS k, 'I' AS status, 99.99 AS price
        |  FROM base, mk WHERE k % 100 = 0),
        |tagged AS (
        |  SELECT k, 0 AS v, status, price FROM base
        |  UNION ALL
        |  SELECT k, 1 AS v, status, price FROM changes),
        |merged AS (
        |  SELECT k, arg_max(status, v) AS status, arg_max(price, v) AS price
        |  FROM tagged GROUP BY k),
        |diff AS (
        |  SELECT CASE WHEN a.status IS NULL THEN 'added'
        |              WHEN b.status IS NULL THEN 'removed'
        |              WHEN a.status <> b.status OR a.price <> b.price THEN 'changed'
        |              ELSE 'unchanged' END AS category,
        |         coalesce(CAST(b.price AS DECIMAL(18,2)), 0)
        |           - coalesce(CAST(a.price AS DECIMAL(18,2)), 0) AS delta
        |  FROM base a FULL OUTER JOIN merged b ON b.k = a.k)
        |SELECT category, count(*) AS n_keys,
        |       CAST(SUM(delta) AS DOUBLE) AS price_delta
        |FROM diff GROUP BY category""".stripMargin,
    // both surviving generations recomputed from the raw table: gen 1
    // via the upsert merge, gen 2 via the CDC election (deletes out);
    // the expired gen 0 contributes NO row — a leak of its rows into
    // either survivor shifts the counts/sums
    "snapshot_expire" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
        |  FROM orders),
        |mk AS (SELECT max(k) AS mk FROM base),
        |changes AS (
        |  SELECT k, 'U' AS status, price + 10.0 AS price
        |  FROM base WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k + mk + 1 AS k, 'I' AS status, 99.99 AS price
        |  FROM base, mk WHERE k % 100 = 0),
        |tagged AS (
        |  SELECT k, 0 AS v, status, price FROM base
        |  UNION ALL
        |  SELECT k, 1 AS v, status, price FROM changes),
        |merged AS (
        |  SELECT k, arg_max(status, v) AS status, arg_max(price, v) AS price
        |  FROM tagged GROUP BY k),
        |feed AS (
        |  SELECT k, 1 AS v, 'U' AS op, 'U' AS status,
        |         price + 10.0 AS price
        |  FROM base WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k, 2 AS v, 'D' AS op, 'X' AS status,
        |         CAST(0.0 AS DOUBLE) AS price
        |  FROM base WHERE k % 20 = 0
        |  UNION ALL
        |  SELECT k, 3 AS v, 'U' AS op, 'R' AS status,
        |         CAST(50.0 AS DOUBLE) AS price
        |  FROM base WHERE k % 40 = 0),
        |taggedc AS (
        |  SELECT k, 0 AS v, 'U' AS op, status, price FROM base
        |  UNION ALL
        |  SELECT k, v, op, status, price FROM feed),
        |mergedc AS (
        |  SELECT k, arg_max(op, v) AS op, arg_max(status, v) AS status,
        |         arg_max(price, v) AS price
        |  FROM taggedc GROUP BY k)
        |SELECT CAST(1 AS BIGINT) AS gen, count(*) AS n_rows,
        |       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM merged
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS gen, count(*) AS n_rows,
        |       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM mergedc WHERE op <> 'D'""".stripMargin,
    "merge_cdc_tombstones" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
        |  FROM orders),
        |feed AS (
        |  SELECT k, 1 AS v, 'U' AS op, 'U' AS status,
        |         price + 10.0 AS price
        |  FROM base WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k, 2 AS v, 'D' AS op, 'X' AS status,
        |         CAST(0.0 AS DOUBLE) AS price
        |  FROM base WHERE k % 20 = 0
        |  UNION ALL
        |  SELECT k, 3 AS v, 'U' AS op, 'R' AS status,
        |         CAST(50.0 AS DOUBLE) AS price
        |  FROM base WHERE k % 40 = 0),
        |tagged AS (
        |  SELECT k, 0 AS v, 'U' AS op, status, price FROM base
        |  UNION ALL
        |  SELECT k, v, op, status, price FROM feed),
        |merged AS (
        |  SELECT k, arg_max(op, v) AS op, arg_max(status, v) AS status,
        |         arg_max(price, v) AS price
        |  FROM tagged GROUP BY k)
        |SELECT status, count(*) AS n_rows,
        |       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM merged
        |WHERE op <> 'D'
        |GROUP BY status""".stripMargin)
}
