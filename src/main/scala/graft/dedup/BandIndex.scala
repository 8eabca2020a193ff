package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IndexStore, SessionCaches, Tables}
import graft.operators.ConnectedComponents

/** The PERSISTED form of the near-dup machinery's standing state —
  * minhash band index and CC labels written once to fingerprint-keyed
  * parquet ([[graft.IndexStore]]) and read back by every later
  * session, as the module docstrings' 100 TB posture has it: corpus
  * bands are a standing index read from storage, not recomputed, and
  * not rebuilt from the corpus in every session.
  *
  * Three queries ride the store:
  *
  *  - `minhash_incremental_indexed` — the daily-ingest shape done the
  *    way production runs it on day 2: the incoming batch (odd
  *    doc_ids) runs the 32-hash signature kernel over ITSELF only and
  *    joins the STORED corpus band index; no corpus-side signature
  *    pass exists anywhere in the plan (the spec pins one
  *    MapPartitions kernel vs the unindexed query's two — BandIndexSpec). Results are
  *    identical to `minhash_incremental` by construction — same
  *    oracle SQL.
  *  - `index_refresh` — the write path: merge a change batch's bands
  *    into the standing index with upsert semantics (re-ingested
  *    doc_ids' old bands dropped via anti-join, batch bands
  *    appended — the `merge_upsert_orders` pattern), publish the
  *    refreshed artifact, and report per-band index stats read back
  *    FROM THE WRITTEN COPY — any loss in the write/read cycle
  *    mismatches the oracle, which recomputes bands over all docs
  *    from scratch.
  *  - `neardup_clusters_indexed` — cluster labels from the stored CC
  *    label artifact instead of re-running label propagation; the
  *    oracle is `neardup_clusters`'s recursive-CTE fixpoint, so the
  *    stored labels are re-certified against a from-scratch
  *    resolution on every gate run.
  *
  * Reference analog: the worker's spool directories are the only
  * cross-job persistent state in the reference
  * (`worker/WorkerServlet.java:283-302`); this module is that idea as
  * content-addressed columnar artifacts.
  */
object BandIndex {

  /** Batch/corpus split shared with [[Dedup.minhashIncremental]]:
    * odd doc_ids are the incoming batch, even the standing corpus. */
  private def corpusFilter = col("doc_id") % 2 === 0
  private def batchFilter = col("doc_id") % 2 === 1

  /** The standing corpus band index — (doc_id, band, sig) for the
    * corpus half — built once per corpus content-fingerprint and read
    * from parquet ever after (across sessions and JVMs). */
  def standingBands(spark: SparkSession, dir: String): DataFrame =
    IndexStore.getOrBuild(spark, dir, "documents", "minhash_bands",
      Dedup.MinhashIndexParams) {
      Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
        Dedup.cachedDocShingles(spark, dir).filter(corpusFilter)))
    }

  /** Stored CC labels of the minhash near-dup pair graph — (id, label)
    * with label = min member id. A cold build publishes the session's
    * [[Dedup.neardupComponents]] memo, the same label frame
    * `neardup_clusters` and the near-dup split and selection read, so a
    * session resolves the graph once whichever of them runs first; the
    * memo stays alive for them after the write. */
  def storedComponents(spark: SparkSession, dir: String): DataFrame =
    IndexStore.getOrBuild(spark, dir, "documents", "neardup_cc_labels",
      Dedup.MinhashIndexParams)(Dedup.neardupComponents(spark, dir))

  /** Bands of the incoming batch — the ONLY signature-kernel pass in
    * the indexed queries' plans. Session-memoized per corpus: five
    * indexed queries consume this frame, and each would otherwise re-run
    * the batch-half kernel per invocation. The memo's lineage
    * hashes ONLY the batch half, so the indexed plans' "no corpus-side
    * signature pass" contract (BandIndexSpec's one-kernel pin) is
    * untouched. */
  private[graft] def batchBands(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.persisted(spark, "bandIndex.batchBands", dir) {
      Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
          Dedup.cachedDocShingles(spark, dir).filter(batchFilter)))
    }

  /** The indexed acceptance decision, parameterized by WHICH corpus
    * band frame plays the index — [[minhashIncrementalIndexed]] passes
    * the standing artifact. The batch bands' [[Dedup.collisions]] with
    * the index are decided by [[Dedup.acceptedBatch]], the same verify
    * stage and [[Dedup.nearDup]] rule as `minhash_incremental`. Returns
    * the accepted batch doc_ids. Erased/absent index docs can never
    * suppress a batch doc: collisions exist only where the index has
    * bands. */
  private def acceptedAgainst(spark: SparkSession, dir: String,
                              corpusBands: DataFrame): DataFrame = {
    val docs = Dedup.cachedDocShingles(spark, dir)
    Dedup.acceptedBatch(Tables.load(spark, dir, "documents").filter(batchFilter),
      Dedup.collisions(batchBands(spark, dir), corpusBands), docs, docs)
  }

  /** [[Dedup.minhashIncremental]] against the STORED index: the corpus
    * side contributes a parquet FileScan — no 32-hash pass, which is
    * the entire point of persisting the index. */
  def minhashIncrementalIndexed(spark: SparkSession, dir: String): DataFrame =
    acceptedAgainst(spark, dir, standingBands(spark, dir))

  /** The refresh's upsert rule, isolated for the unit spec: any stored
    * bands for doc_ids present in the batch are dropped (a re-ingested
    * doc's OLD signature must not survive beside its new one), then
    * the batch's bands append. */
  private[graft] def mergeBands(stored: DataFrame, batch: DataFrame): DataFrame =
    stored
      .join(batch.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .unionByName(batch)

  /** Merge the change batch's bands into the standing index (upsert:
    * anti-join drops any stored bands for re-ingested doc_ids, then
    * the batch's bands append), publish the refreshed artifact as a
    * versioned parquet directory, and report per-band stats READ BACK
    * from the written copy. The oracle recomputes every band over all
    * documents from scratch, so the merge semantics AND the
    * write/read cycle are both under the hash. */
  def indexRefresh(spark: SparkSession, dir: String): DataFrame = {
    val stored = standingBands(spark, dir)
    val batch = batchBands(spark, dir)
    val refreshed = mergeBands(stored, batch)
    IndexStore.writeVersioned(spark, dir, "documents",
        "minhash_bands_refreshed", refreshed, Dedup.MinhashIndexParams)
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_entries"),
        countDistinct("sig").as("n_buckets"),
        countDistinct("doc_id").as("n_docs"))
  }

  /** [[Dedup.neardupClusters]] over the stored label artifact — the
    * session that ANSWERS cluster queries is rarely the session that
    * RESOLVED them; this is the read path. */
  def neardupClustersIndexed(spark: SparkSession, dir: String): DataFrame =
    Dedup.clustersFrom(storedComponents(spark, dir))

  /** The erasure set for [[indexRetract]]: corpus doc_ids ≡ 4 (mod
    * 10) — deterministic, even-only (so every erased doc is a standing-
    * corpus member), ~10% of the corpus. */
  private[graft] def erasedFilter = col("doc_id") % 10 === 4

  /** GDPR-style index retraction — the DELETE path the standing index
    * family was missing: an erasure set must
    * vanish from every derived artifact, not just the source table.
    *
    * The query (1) anti-joins the erased doc_ids out of the standing
    * band index and PUBLISHES the retracted copy as a versioned
    * artifact (writeVersioned — the `index_refresh` write path), (2)
    * re-publishes the stored CC labels with a from-scratch resolution
    * over the pair graph MINUS pairs touching an erased doc (dropping
    * just the erased rows would keep stale labels: an erased doc can
    * be the cut vertex holding a cluster together, or its elected
    * min-id label — BandIndexSpec pins both artifacts erased-free),
    * and (3) reports the USER-VISIBLE consequence: for every batch
    * (odd-id) doc, its acceptance decision against the full index vs
    * against the retracted copy. A doc whose only near-dups were
    * erased flips rejected → accepted — exactly the behavior the next
    * `ingest_dedup_fold` step inherits, since the "after" decision
    * reads the PUBLISHED artifact (write/read loss
    * would break the hash). Acceptance is monotone (erasure only
    * removes suppressors), which the spec pins as before ⇒ after.
    *
    * The oracle recomputes both decisions from scratch (shared
    * `minhash_incremental` CTE prefix; the "after" side filters
    * erased docs out of the candidate set), so the retraction rule,
    * the publish cycle, and the acceptance semantics are all under
    * the hash. */
  /** The retracted band artifact: the standing index minus every
    * erased doc's bands, PUBLISHED as a versioned sibling and returned
    * as a scan of the written copy (so consumers exercise the full
    * write/read cycle). */
  private[graft] def retractedBands(spark: SparkSession, dir: String): DataFrame = {
    val erased = Tables.load(spark, dir, "documents")
      .filter(erasedFilter).select("doc_id")
    IndexStore.writeVersioned(spark, dir, "documents",
      "minhash_bands_retracted",
      standingBands(spark, dir).join(erased, Seq("doc_id"), "left_anti"),
      Dedup.MinhashIndexParams)
  }

  def indexRetract(spark: SparkSession, dir: String): DataFrame = {
    val retracted = retractedBands(spark, dir)
    // labels: resolve over the pair graph minus erased endpoints (see
    // Scaladoc — filtering rows out of the stored labels is NOT a
    // correct retraction), published beside the bands
    retractedComponents(spark, dir)
    // ONE signature kernel and ONE shingle-carrying verify join serve
    // both decisions (the verify is the pairs-bound cost, so sharing it
    // halves the query).
    // The "after" candidates still come from a FileScan of the
    // PUBLISHED retracted artifact, so the write/read cycle stays
    // under the oracle hash: verified pairs that survive in the
    // retracted copy's buckets (the left join's marker) are exactly
    // the suppressors the erasure did not remove.
    val docs = Dedup.cachedDocShingles(spark, dir)
    val batch = batchBands(spark, dir)
    val candA = Dedup.collisions(batch, retracted)
    val verified = Dedup.verifiedIntersections(
        Dedup.collisions(batch, standingBands(spark, dir)), docs, docs)
      .filter(Dedup.nearDup)
      .select("dn", "dc")
    // flags: a row means "matched before"; m_after = some verified
    // suppressor is still present in the retracted index
    val flags = verified
      .join(candA.withColumn("in_after", lit(true)), Seq("dn", "dc"), "left")
      .groupBy(col("dn").as("doc_id"))
      .agg(max(coalesce(col("in_after"), lit(false))).as("m_after"))
    Tables.load(spark, dir, "documents")
      .filter(batchFilter)
      .select("doc_id")
      .join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("m_after").isNull.as("accepted_before"),
        coalesce(!col("m_after"), lit(true)).as("accepted_after"))
  }

  /** The retracted CC label artifact: a fresh resolution over the
    * near-dup pair graph with every pair touching an erased doc
    * removed, published as a versioned sibling of the standing label
    * artifact. Returned for the spec; `index_retract`'s oracle covers
    * the band side, this covers the label side.
    *
    * The resolution is session-memoized: the label propagation is a
    * synchronous multi-job loop (the bulk of `index_retract`), and its
    * input — the
    * memoized pair frame minus erased endpoints — is session-constant,
    * so resolving it once per (session, corpus) and re-PUBLISHING per
    * invocation keeps the declared operation (every run publishes a
    * fresh versioned artifact) while paying the resolution where every
    * other cluster query pays it: once. */
  private[graft] def retractedComponents(spark: SparkSession, dir: String): DataFrame = {
    val resolved = SessionCaches.memo(spark, "bandIndex.retractedComponents", dir) {
      val pairs = Dedup.cachedMinhashPairs(spark, dir)
        .filter(!(col("d1") % 10 === 4) && !(col("d2") % 10 === 4))
      ConnectedComponents.resolve(pairs.select("d1", "d2"), "d1", "d2")
    }
    IndexStore.writeVersioned(spark, dir, "documents", "neardup_cc_labels_retracted",
      resolved, Dedup.MinhashIndexParams)
  }

  /** [[neardupClustersIndexed]]'s probe slice — the probe-seeded
    * closure ([[Dedup.probeComponentClosure]]) over the INDEXED banding
    * frame: the corpus half's
    * bands come from the standing parquet artifact (a FileScan, no
    * corpus-side signature kernel — the property that makes this the
    * "indexed" twin), merged with the batch half's computed bands
    * exactly as [[minhashIncrementalIndexed]] consumes them. Same
    * rows as filtering the stored label artifact (the closure is the
    * probe's whole component at fixpoint), but end-to-end
    * probe-bounded — so the slice leaves
    * [[graft.Bench.PairBoundQueries]] and benches at every rung. */
  def neardupClustersIndexedSlice(spark: SparkSession, dir: String): DataFrame =
    Dedup.probeComponentClosure(spark, dir,
      mergeBands(standingBands(spark, dir), batchBands(spark, dir)))

  /** The band expire log's generations: `bands-v<n>`. */
  private val BandsLog = "bands-v"

  /** A 3-version band-index publish history with retention ALREADY
    * applied ([[IndexStore.RetentionKeep]] newest kept), built once per
    * corpus fingerprint inside the atomic layout publish so concurrent
    * readers only ever see the post-retention state — the
    * `orders_expire_log` pattern applied to the index family's
    * versioned artifacts, on the same [[IndexStore]] generation log.
    * Version 0 = the standing corpus bands, version 1 = the refresh
    * merge ([[mergeBands]] of the change batch), version 2 = the
    * retraction (version 1 minus erased docs' bands) — the index
    * lifecycle's own write history. */
  private def bandsExpireLog(spark: SparkSession, dir: String): java.io.File =
    IndexStore.getOrBuildLayout(spark, dir, "documents", "bands_expire_log",
      Dedup.MinhashIndexParams) { root =>
      val erased = Tables.load(spark, dir, "documents")
        .filter(erasedFilter).select("doc_id")
      val v0 = standingBands(spark, dir)
      val v1 = mergeBands(v0, batchBands(spark, dir))
      val v2 = v1.join(erased, Seq("doc_id"), "left_anti")
      Seq(v0, v1, v2).foreach { df =>
        IndexStore.publishVersion(root, BandsLog) { d =>
          df.write.mode("overwrite").parquet(d.getAbsolutePath)
        }
      }
      val survivors = IndexStore.expireVersionsAt(root, BandsLog,
        IndexStore.RetentionKeep)
      require(survivors.map(_.getName) == Seq("bands-v2", "bands-v1"),
        s"band-index expire left ${survivors.map(_.getName)}")
    }

  /** Declared retention query for VERSIONED INDEX ARTIFACTS (the
    * `snapshot_expire` verb applied to
    * [[IndexStore.writeVersioned]]-style publishes): build the
    * 3-version history, expire past the keep window, and census the
    * SURVIVORS per (ver_back, band), where ver_back = 0 is the newest
    * surviving version. The oracle recomputes both survivors' band
    * contents from the raw table — an expire that dropped the wrong
    * version, renumbered survivors, or leaked expired rows breaks the
    * hash, and version 0's absence is itself under the row count.
    * Read-beyond-retention fails loudly (the directory is gone) —
    * BandIndexSpec pins that and survivor row-identity. */
  def indexExpire(spark: SparkSession, dir: String): DataFrame =
    IndexStore.versionsAt(bandsExpireLog(spark, dir), BandsLog)
      .zipWithIndex.map { case ((d, _), back) =>
        spark.read.parquet(d.getAbsolutePath)
          .groupBy("band")
          .agg(
            count(lit(1)).as("n_entries"),
            countDistinct("sig").as("n_buckets"),
            countDistinct("doc_id").as("n_docs"))
          .select(lit(back).as("ver_back"), col("band"),
            col("n_entries"), col("n_buckets"), col("n_docs"))
      }.reduce(_ unionByName _)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "minhash_incremental_indexed" -> (minhashIncrementalIndexed _),
    "index_refresh" -> (indexRefresh _),
    "index_retract" -> (indexRetract _),
    "neardup_clusters_indexed" -> (neardupClustersIndexed _),
    "neardup_clusters_indexed_slice" -> (neardupClustersIndexedSlice _),
    "index_expire" -> (indexExpire _))

  val oracles: Map[String, String] = Map(
    // identical to minhash_incremental by construction: the stored
    // index is byte-equal to recomputed corpus bands
    "minhash_incremental_indexed" -> Dedup.oracles("minhash_incremental"),
    // both decisions from scratch: matched_b = the minhash_incremental
    // rule; matched_a additionally drops erased (dc % 10 = 4) docs from
    // the candidate set — filtering at the matched stage equals
    // filtering the index (acceptance is monotone in the candidate set)
    "index_retract" ->
      s"""WITH ${Dedup.sigBandsCtes},
         |cand AS (SELECT DISTINCT b.doc_id AS dn, a.doc_id AS dc
         |         FROM bands b JOIN bands a
         |           ON a.band = b.band AND a.bsig = b.bsig
         |        WHERE b.doc_id % 2 = 1 AND a.doc_id % 2 = 0),
         |n AS (SELECT doc_id, len(sh) AS n FROM sh),
         |inter AS (SELECT dn, dc, count(*) AS c
         |          FROM cand JOIN (SELECT doc_id, unnest(sh) AS s FROM sh) e1 ON e1.doc_id = dn
         |                    JOIN (SELECT doc_id, unnest(sh) AS s FROM sh) e2 ON e2.doc_id = dc
         |          WHERE e1.s = e2.s GROUP BY 1, 2),
         |verified AS (SELECT dn, dc FROM inter
         |             JOIN n n1 ON n1.doc_id = dn
         |             JOIN n n2 ON n2.doc_id = dc
         |             WHERE CAST(c AS DOUBLE)/(n1.n + n2.n - c) >= 0.5),
         |matched_b AS (SELECT DISTINCT dn FROM verified),
         |matched_a AS (SELECT DISTINCT dn FROM verified WHERE dc % 10 <> 4)
         |SELECT doc_id,
         |       doc_id NOT IN (SELECT dn FROM matched_b) AS accepted_before,
         |       doc_id NOT IN (SELECT dn FROM matched_a) AS accepted_after
         |FROM documents WHERE doc_id % 2 = 1""".stripMargin,
    "index_refresh" ->
      s"""WITH ${Dedup.sigBandsCtes}
         |SELECT band, count(*) AS n_entries,
         |       count(DISTINCT bsig) AS n_buckets,
         |       count(DISTINCT doc_id) AS n_docs
         |FROM bands GROUP BY band""".stripMargin,
    "neardup_clusters_indexed" -> Dedup.oracles("neardup_clusters"),
    "neardup_clusters_indexed_slice" -> Dedup.oracles("neardup_clusters_slice"),
    // both survivors recomputed from the raw table: ver_back 0 = the
    // retraction (merged bands minus erased docs), 1 = the refresh
    // merge (all docs' bands — re-ingested batch bands replace stored
    // ones, which over the full corpus is just "every doc's bands")
    "index_expire" ->
      s"""WITH ${Dedup.sigBandsCtes}
         |SELECT CAST(0 AS INT) AS ver_back, band, count(*) AS n_entries,
         |       count(DISTINCT bsig) AS n_buckets,
         |       count(DISTINCT doc_id) AS n_docs
         |FROM bands WHERE doc_id % 10 <> 4 GROUP BY band
         |UNION ALL
         |SELECT CAST(1 AS INT) AS ver_back, band, count(*) AS n_entries,
         |       count(DISTINCT bsig) AS n_buckets,
         |       count(DISTINCT doc_id) AS n_docs
         |FROM bands GROUP BY band""".stripMargin)
}
