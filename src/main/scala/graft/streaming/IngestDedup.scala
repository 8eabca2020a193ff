package graft.streaming

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.{SessionCaches, Tables}
import graft.dedup.{BandIndex, Dedup}

/** Streaming ingest dedup — the composition of the persisted standing
  * index ([[graft.dedup.BandIndex]]) with the Structured-Streaming
  * surface: each micro-batch of incoming documents is deduped against
  * the standing MinHash band index, accepted docs are appended to the
  * corpus store, and THEIR bands are appended to the index — so the
  * next batch dedups against everything accepted before it. This is
  * the steady-state shape of a crawl pipeline: the index is state the
  * stream both reads and grows.
  *
  * Exactly-once: every batch writes to its OWN partition directory
  * (`.../batch=<id>`, overwrite mode), so a replayed batch overwrites
  * its previous partial output instead of appending beside it; and
  * each batch's reads filter `batch < id`, so a replay after a torn
  * commit (sink written, checkpoint commit missing) does not see its
  * own half-written bands — without that guard a replayed doc would
  * collide with its own index entry at Jaccard 1.0 and be double-
  * REJECTED, the subtle failure mode of self-growing streaming state.
  *
  * The batch twin `ingest_dedup_fold` runs the SAME [[dedupStep]] as
  * a three-batch sequential fold in batch mode and is certified by a
  * DuckDB oracle that unrolls the fold; StreamingSpec pins
  * stream == fold over the same feed and exactly-once across a
  * kill + torn-commit restart.
  *
  * Scale: one micro-batch step ([[ingestBatch]]) serves all three
  * streams, and it runs on the driver. One trigger bounds a
  * micro-batch, so what the driver holds — the batch, its band keys and
  * the stored text of the docs it collides with — is bounded by batch
  * size times bucket occupancy. The index and the accepted-text store
  * only stream through filtered scans: neither is ever shuffled, and
  * only their matching rows reach the driver, so the per-batch cost
  * tracks the batch plus the matched-bucket corpus rows — never the
  * corpus. The micro-batch source is read once: both partitions are
  * written from the rows the driver verified, with the band keys it
  * computed to decide, so no doc is signed twice. A micro-batch runs 5
  * Spark jobs (the batch collect, two store probes, two concurrent
  * writes). The batch fold
  * [[ingestDedupFold]] is not trigger-bounded (each step is a sixth of
  * the corpus) and keeps [[dedupStep]]'s shuffle joins.
  */
object IngestDedup {

  /** One ingest step: batch docs (doc_id, text) against the current
    * index bands, with `knownDocs` (the accepted corpus store)
    * providing text for candidate verification. Returns accepted
    * doc_ids. A doc is accepted iff none of its index collisions is a
    * near-dup ([[Dedup.acceptedBatch]]) — the same acceptance rule as
    * `minhash_incremental`. Only corpus docs that COLLIDE get shingled
    * for verify. */
  def dedupStep(spark: SparkSession, batchDocs: DataFrame,
                indexBands: DataFrame, knownDocs: DataFrame): DataFrame =
    dedupStepWith(spark, batchDocs, indexBands, knownDocs, Dedup.shinglesOf)

  /** [[dedupStep]] with an injectable shingle source. The default
    * above shingles its frames directly; the batch FOLD's frames are
    * all subsets of the corpus, so it passes a semi-join against the
    * session-memoized corpus shingle frame instead, which saves the
    * shingle kernel about four passes per step (batch bands, the batch
    * verify side, the candidate-corpus side, the index update). The rows
    * are identical either way: both are [[Dedup.shinglesOf]] rows.
    *
    * The batch's [[Dedup.collisions]] with the index pick the stored
    * docs to shingle, and the verify takes the batch shingles as its
    * batch side and those stored shingles as its index side. So a doc_id
    * that is both in the batch and stored has its batch copy verified
    * against the stored copies only, never against itself. */
  private[graft] def dedupStepWith(spark: SparkSession, batchDocs: DataFrame,
                indexBands: DataFrame, knownDocs: DataFrame,
                shingler: DataFrame => DataFrame): DataFrame = {
    val batchSh = shingler(batchDocs)
    val cand = Dedup.collisions(
      Dedup.bandsOf(Dedup.minhashSignaturesOf(spark, batchSh)), indexBands)
    val candCorpusSh = shingler(
      knownDocs.join(cand.select(col("dc").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"))
    Dedup.acceptedBatch(batchDocs, cand, batchSh, candCorpusSh)
  }

  /** Seed the stream's state stores: the standing corpus docs land in
    * the accepted store and their bands in the index, both as the
    * `batch=-1` partition (before every stream batch id). The two
    * writes run concurrently. */
  def seed(spark: SparkSession, corpusDocs: DataFrame,
           indexPath: String, acceptedPath: String): Unit = {
    concurrently(spark)(
      corpusDocs.select("doc_id", "text")
        .write.mode("overwrite").parquet(s"$acceptedPath/batch=-1"),
      Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
          Dedup.shinglesOf(corpusDocs)))
        .write.mode("overwrite").parquet(s"$indexPath/batch=-1"))
  }

  /** Start the ingest stream: `docsStream` rows are (doc_id, text);
    * accepted docs append to `acceptedPath/batch=<id>`, their bands to
    * `indexPath/batch=<id>`. Idempotent per batch (see object doc). */
  def start(spark: SparkSession, docsStream: DataFrame, indexPath: String,
            acceptedPath: String, checkpoint: String): StreamingQuery =
    eachBatch(docsStream, checkpoint) { (batch, id) =>
      ingestBatch(batch, id, indexPath, acceptedPath)
    }

  private def eachBatch(rows: DataFrame, checkpoint: String)
                       (step: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(step)
      .start()

  /** One micro-batch of every ingest stream: dedup `docs` (doc_id, text)
    * against the stores as of batch `id` and write the accepted docs and
    * their bands as the stores' `batch=<id>` partitions. `live` narrows
    * a store read (given the store's path) before the dedup, e.g. to
    * drop tombstoned rows.
    *
    * A driver-side step. One action collects the batch; the driver
    * shingles, signs ([[Dedup.signature]], the executor kernel's own
    * loop) and bands it, probes the index with a pushed `sig IN (…)`
    * filter, fetches the stored text of the colliding docs with a pushed
    * `doc_id IN (…)` filter (skipped when nothing collides), and verifies
    * exact Jaccard on the driver. The acceptance rule is [[dedupStep]]'s:
    * a doc is rejected iff it shares a band bucket with an index doc
    * whose stored text is a near-dup of it by [[Dedup.isNearDup]]. A
    * batch copy is verified against the stored copies only, so a re-sent
    * doc_id is rejected iff its new text is a near-dup of a stored copy.
    *
    * The stores are read before this batch's partitions are written,
    * with fixed schemas (no inference job) and the `batch < id` guard,
    * so a torn-commit replay makes the same decisions. Both writes come
    * from the collected rows: the batch rows minus the rejected ids, and
    * the band keys the driver already computed for them, one data file
    * per partition. The source is read once, and the two writes run
    * concurrently ([[concurrently]]): 5 jobs per batch, 4 when nothing
    * collides. */
  private def ingestBatch(docs: DataFrame, id: Long, indexPath: String, acceptedPath: String,
                          live: (DataFrame, String) => DataFrame = (store, _) => store): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    def probe(path: String, schema: StructType, key: String, in: Iterable[Any]) =
      live(readStore(spark, path, schema, id), path).filter(col(key).isInCollection(in))
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val sh = rows.map { case (d, t) => (d, Dedup.shingleSet(t)) }.filter(_._2.nonEmpty)
    val keys = sh.map { case (d, s) => (d, Dedup.bandKeys(Dedup.signature(s))) }
    val byKey = keys.flatMap { case (d, ks) => ks.map(_ -> d) }.groupMap(_._1)(_._2)
    val cand = if (byKey.isEmpty) Array.empty[(Long, Long)]
      else probe(indexPath, IndexSchema, "sig", byKey.keySet.map(_._2))
        .select("doc_id", "band", "sig").as[(Long, Int, String)].collect()
        .flatMap { case (dc, b, s) => byKey.getOrElse((b, s), Array.empty[Long]).map(_ -> dc) }.distinct
    val stored = if (cand.isEmpty) Map.empty[Long, Array[Set[String]]]
      else probe(acceptedPath, AcceptedSchema, "doc_id", cand.map(_._2).toSet)
        .select("doc_id", "text").as[(Long, String)].collect()
        .groupMap(_._1)(r => Dedup.shingleSet(r._2).toSet)
    val copies = sh.groupMap(_._1)(_._2)
    val dups = cand.collect { case (dn, dc)
      if copies(dn).exists(a => stored.getOrElse(dc, Array.empty).exists(Dedup.isNearDup(a, _))) => dn }.toSet
    val bands = for ((d, ks) <- keys if !dups(d); (b, s) <- ks) yield (d, b, s)
    concurrently(spark)(
      rows.filterNot(r => dups(r._1)).toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$acceptedPath/batch=$id"),
      bands.toSeq.toDF("doc_id", "band", "sig").coalesce(1)
        .write.mode("overwrite").parquet(s"$indexPath/batch=$id"))
  }

  /** Runs `a` on a pool thread and `b` on the caller's, returning once
    * both are done and rethrowing the first failure. The pool thread
    * runs with the caller's session and Spark local properties
    * (`SQLExecution.withThreadLocalCaptured`), so its jobs keep the
    * caller's job group and, inside a micro-batch, the stream's
    * `sql.streaming.queryId` and `streaming.sql.batchId`. */
  private def concurrently(spark: SparkSession)(a: => Unit, b: => Unit): Unit = {
    val first = new AtomicReference[Throwable]()
    def run(w: => Unit): Unit = try w catch { case e: Throwable => first.compareAndSet(null, e); () }
    val pending = SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], WritePool)(run(a))
    run(b)
    pending.join()
    Option(first.get).foreach(e => throw e)
  }

  private lazy val WritePool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "ingest-store-write"); t.setDaemon(true); t
  }

  /** The batch twin, oracled: odd doc_ids arrive as three ingest
    * batches (doc_id % 6 = 1, then 3, then 5) against the standing
    * even-id corpus — the index the first batch sees is the PERSISTED
    * [[BandIndex.standingBands]] artifact, and each later batch also
    * dedups against the docs accepted before it (the fold). Output:
    * every accepted doc_id. The DuckDB oracle unrolls the same fold
    * over from-scratch bands, so acceptance, ordering effects, and
    * the index-growth semantics are all under the hash. */
  def ingestDedupFold(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.memo(spark, "ingest.fold", dir) {
      val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
      // Every frame the fold shingles is a SUBSET OF THE CORPUS, so
      // ride the session-memoized corpus shingle frame instead of
      // re-running the single-task shingle kernel per consumer (about
      // four passes per step otherwise). Identical rows: the memo is
      // `Dedup.shinglesOf` over the same docs.
      val memoShingles: DataFrame => DataFrame = d =>
        Dedup.cachedDocShingles(spark, dir)
          .join(d.select("doc_id"), Seq("doc_id"), "left_semi")
      var index = BandIndex.standingBands(spark, dir)
        .select("doc_id", "band", "sig")
      var known = docs.filter(col("doc_id") % 2 === 0)
      var accepted: Option[DataFrame] = None
      val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (k <- Seq(1, 3, 5)) {
        val batch = docs.filter(col("doc_id") % 6 === k)
        // eagerly checkpoint each step's accepted ids (tiny: doc_ids
        // only): step k+1's index and the final union both consume
        // them, and a persist-only form still CARRIES the whole fold
        // prefix in each step's LOGICAL plan — step 3's lineage
        // re-embeds steps 1-2's index/known subtrees multiplicatively.
        // localCheckpoint truncates to the materialized rows, so plan
        // growth across the fold is linear.
        val acc = dedupStepWith(spark, batch, index, known, memoShingles)
          .localCheckpoint(true)
        steps += acc
        val accDocs = docs.join(acc, Seq("doc_id"), "left_semi")
        index = index.unionByName(
          Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
            memoShingles(accDocs))))
        known = known.unionByName(accDocs)
        accepted = Some(accepted.fold(acc)(_.unionByName(acc)))
      }
      // the fold is inherently sequential state — memoized per
      // (session, corpus), so one session runs the three barriers
      // ONCE. Materialize the (tiny: accepted doc_ids only) union
      // eagerly. The entry also owns the step checkpoints: the union
      // recomputes from them if its cached blocks are lost, so they
      // are freed with it by SessionCaches.release, never before.
      val result = SessionCaches.persist(accepted.get)
      result.count()
      (result, steps.toList)
    }._1

  /** Rows per compacted output file — the file-count bound the
    * compaction writes toward. Constant-width (doc_id, band, sig)
    * rows at ~60 B each put a 4 M-row file around 250 MB — the
    * parquet sweet spot (big enough that footers/opens amortize,
    * small enough that one file is one task's worth of scan). */
  val CompactRowsPerFile = 4L * 1000 * 1000

  /** The fragmented physical store the streaming ingest leaves behind,
    * built ONCE per corpus fingerprint with the exact layout
    * [[start]]'s foreachBatch produces: `batch=-1` holds the seed
    * corpus bands, `batch=0/1/2` each fold step's accepted-doc bands —
    * one directory of shuffle-partition-count files per batch. This is
    * the input [[indexCompact]] exists for: after B batches the index
    * is O(B · shuffle.partitions) small files, and at a crawl's batch
    * cadence the file count (not the byte count) becomes the scan's
    * bottleneck — every reader opens thousands of footers to read
    * megabytes. */
  private[graft] def fragmentedStore(spark: SparkSession, dir: String): java.io.File =
    graft.IndexStore.getOrBuildLayout(spark, dir, "documents",
      "ingest_band_store", Dedup.MinhashIndexParams) { root =>
      val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
      val accepted = ingestDedupFold(spark, dir)
      // ONE signature pass over all fold-accepted docs, split to the
      // per-batch partition dirs by the fold's doc_id % 6 attribution
      // (the three batches partition the odd ids, so membership is
      // recoverable without per-step state)
      val accDocs = docs.join(accepted, Seq("doc_id"), "left_semi")
      Dedup.bandsOf(Dedup.minhashSignaturesOf(spark, Dedup.shinglesOf(accDocs)))
        .withColumn("batch", expr("CAST((doc_id % 6 - 1) DIV 2 AS INT)"))
        .write.mode("overwrite").partitionBy("batch")
        .parquet(root.getAbsolutePath)
      // the seed partition is byte-identical to the standing band
      // artifact: copy it with a FileScan, never a second kernel
      BandIndex.standingBands(spark, dir)
        .write.mode("overwrite")
        .parquet(new java.io.File(root, "batch=-1").getAbsolutePath)
    }

  /** Index compaction — the MAINTENANCE verb of the standing-index
    * lifecycle (build → refresh → append → retract → compact): rewrite
    * the ingest store's per-batch small-file fragments into a bounded
    * number of full-size files, row-identical, and report per-band
    * stats READ BACK from the compacted copy (write/read loss breaks
    * the oracle hash, which recomputes the same census from scratch —
    * corpus bands plus the fold's accepted docs' bands).
    *
    * The compacted artifact drops the `batch` lineage column: compacted
    * batches all sort before any live stream batch (the `batch < id`
    * read guard treats the compacted base like the seed partition), so
    * compaction never changes what a later batch dedups against. File
    * count is `ceil(rows / CompactRowsPerFile)` via one repartition —
    * at 100 TB this is the nightly job that keeps the index readable:
    * cost is one scan + one shuffle of the index (constant-width keys,
    * never the corpus), and the versioned publish keeps the previous
    * generation for in-flight readers ([[graft.IndexStore]]'s
    * keep-newest-two sweep). */
  def indexCompact(spark: SparkSession, dir: String): DataFrame = {
    val store = fragmentedStore(spark, dir)
    val frag = spark.read.parquet(store.getAbsolutePath)
    val nRows = frag.count()
    val nFiles = math.max(1L, (nRows + CompactRowsPerFile - 1) / CompactRowsPerFile).toInt
    val compacted = frag.select("doc_id", "band", "sig").repartition(nFiles)
    graft.IndexStore.writeVersioned(spark, dir, "documents",
        "ingest_bands_compacted", compacted, Dedup.MinhashIndexParams,
        // file count is THIS query's declared contract
        // (ceil(rows/CompactRowsPerFile) via the repartition above) —
        // opt out of the store's rebalance-on-write sizing
        sizeForWrite = false)
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_entries"),
        countDistinct("sig").as("n_buckets"),
        countDistinct("doc_id").as("n_docs"))
  }

  /** The ingest stream with RETRACTION — `index_retract`'s erasure verb
    * arriving ON the stream, which is how GDPR deletes reach a crawl
    * pipeline in production: each micro-batch carries (doc_id, text,
    * op) rows with op `ingest` or `erase`. Erasures append to a
    * TOMBSTONE store (their own `batch=<id>` partition — the same
    * overwrite-idempotent layout as the band/accepted stores), and
    * every read anti-joins the tombstones BATCH-SCOPED: a tombstone at
    * batch t erases store rows written at batch STRICTLY BEFORE t, so
    * erased docs' bands stop suppressing, their text stops being
    * readable, and a later near-dup of an erased doc flips to
    * ACCEPTED — the `index_retract` semantics, live. The scoping makes
    * erasure an EVENT, not a permanent ban: a later batch may
    * re-ingest the same doc_id (a re-crawl of content whose earlier
    * copy was erased), and the re-ingested rows — written AT or above
    * the tombstone's batch — are fully live for every subsequent read.
    * Within a batch, erasures apply FIRST (an ingest and an erasure of
    * related docs in one batch behave as if the erasure landed a
    * moment earlier) — the deterministic order the spec pins, and the
    * reason the scope is strict: rows written at the tombstone's own
    * batch happen AFTER its erasures, so a batch that both erases and
    * re-ingests a doc_id leaves the re-ingested copy live (a `≤` scope
    * would hide those rows from every later read — and compaction
    * would physically drop them — silently disabling dedup against
    * that content).
    *
    * Scale: an erasure batch costs one tombstone append; the
    * anti-join adds a broadcast-able (tombstones are erased-id rows,
    * tiny relative to the index) filter to reads the stream already
    * does. The erased docs' text is never touched — it may already be
    * legally gone. Physical removal of tombstoned rows happens at the
    * next [[compactStore]]-style rewrite, exactly like merge-on-read
    * deletes. IngestDedupSpec pins the acceptance flip, the read-side
    * erasure of bands and text, and exactly-once through a
    * torn-commit replay. */
  def startWithRetraction(spark: SparkSession, eventsStream: DataFrame,
                          indexPath: String, acceptedPath: String,
                          tombPath: String, checkpoint: String): StreamingQuery =
    eachBatch(eventsStream, checkpoint) { (batch, id) =>
      val era = batch.filter(col("op") === "erase").select("doc_id")
      // tombstones visible to THIS batch: all earlier ones plus this
      // batch's own (erase-before-ingest within the batch); the union is
      // the same set on a torn-commit replay, because the replay
      // overwrites its own partition below.
      //
      // Erasure is BATCH-SCOPED: a tombstone at batch t erases only
      // store rows written at batch < t — strict, because within a batch
      // erasures apply FIRST, so rows written at t postdate the erasure.
      // An unscoped doc_id anti-join would make erasure permanent — a
      // doc_id erased once could be re-ingested and ACCEPTED, but its
      // bands/text would stay invisible to every later read (and be
      // physically dropped at compaction), silently disabling dedup
      // against re-crawled content forever.
      val tombs = readStore(spark, tombPath, TombSchema, id)
        .select(col("doc_id").as("t_id"), col("batch").cast("long").as("t_batch"))
        .unionByName(era.select(col("doc_id").as("t_id"), lit(id).as("t_batch")))
      // tombstones are erased-id rows — tiny relative to the index — so
      // the scoped anti-join broadcasts them. Rows folded into the
      // compacted base read as batch=-1; `greatest` lifts them to the
      // store's compaction floor so a not-yet-swept tombstone ≤ floor
      // (already APPLIED by the compaction rewrite) cannot re-erase a
      // re-ingested doc the fold correctly kept.
      ingestBatch(batch.filter(col("op") === "ingest"), id, indexPath, acceptedPath,
        (store, path) => store.join(broadcast(tombs),
          col("doc_id") === col("t_id") &&
            greatest(col("batch").cast("long"), lit(compactedUpTo(path))) < col("t_batch"),
          "left_anti"))
      era.write.mode("overwrite").parquet(s"$tombPath/batch=$id")
    }

  /** PSI threshold above which an incoming batch is quarantined by
    * [[startGated]] — the "act" line of the drift convention
    * ([[graft.text.CorpusOps.qualityDriftPsi]]: <0.1 stable, 0.1–0.25
    * watch, >0.25 act). */
  val PsiGate = 0.25

  /** The drift gate COMPOSED with the ingest dedup — the shape a
    * production crawl actually ships: each
    * micro-batch is first scored against the static reference corpus's
    * quality deciles ([[DriftMonitor]]'s PSI math); a batch whose worst
    * per-feature PSI exceeds [[PsiGate]] is QUARANTINED — its docs land
    * in the quarantine store for human review and the dedup fold never
    * sees them, so a broken extractor (the classic drift cause: a
    * million empty or truncated docs) cannot poison the standing index
    * with degenerate bands before anyone looks. Healthy batches flow
    * through the exact [[start]] pipeline. Either way the batch's full
    * PSI table is appended to the monitor sink — the drift history is
    * complete even for batches that passed.
    *
    * EMBEDDING drift gates too: when a deployed
    * `quantizer` is supplied and the rows carry an `embedding` column,
    * the batch is also scored in the quantizer's cell space
    * ([[graft.similarity.Similarity.cellPsiBetween]]) and quarantined
    * on EITHER signal — a crawl batch can hold length and token deciles
    * steady while its topic distribution shifts, and only the embedding
    * space sees that. Embedding rows land in the same monitor sink as
    * feature `embedding` with the cell id as the bin, so one drift
    * history covers both spaces.
    *
    * Exactly-once: every sink (monitor, quarantine, accepted, index)
    * writes the batch's own partition in overwrite mode; a gated batch
    * still writes EMPTY accepted/index partitions so a torn-commit
    * replay — which recomputes the same deterministic PSI and takes
    * the same branch — overwrites identical state. Scale: the gate
    * adds one narrow feature pass over the batch + a broadcast decile
    * join (the [[DriftMonitor]] costs) and, with a quantizer, one
    * broadcast-centroid assignment pass over the batch — nothing
    * corpus-sized. */
  def startGated(spark: SparkSession, refDocs: DataFrame, docsStream: DataFrame,
                 indexPath: String, acceptedPath: String, quarantinePath: String,
                 monitorPath: String, checkpoint: String,
                 quantizer: Option[Array[Array[Double]]] = None): StreamingQuery = {
    // the gate derives n_chars from the text on BOTH sides (stream rows
    // carry only (doc_id, text); a stored n_chars column would let the
    // reference and the batch disagree on the feature definition)
    def feats(docs: DataFrame): DataFrame =
      graft.text.CorpusOps.qualityFeats(
        docs.select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars")))
    val refFeats = feats(refDocs)
    def vecsOf(docs: DataFrame): DataFrame =
      docs.select(col("doc_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    // a quantizer without an embedding column would otherwise throw
    // inside foreachBatch — killing the query on its first batch with
    // an AnalysisException far from the misconfiguration; fail at
    // stream WIRING time with the actual contract
    quantizer.foreach { _ =>
      require(docsStream.columns.contains("embedding"),
        "startGated: a quantizer was supplied but the stream rows carry " +
          s"no 'embedding' column (columns: ${docsStream.columns.mkString(", ")})")
    }
    // reference cell census: computed once, against the DEPLOYED
    // centroids — the same frame every batch's PSI compares to.
    // PERSISTED and materialized at stream start: an unpersisted frame
    // here would re-run the reference-corpus assignment pass on every
    // micro-batch — the one corpus-sized cost in the gate, paid once
    // for the stream's lifetime.
    val refCids = quantizer.map { q =>
      val cids = SessionCaches.persist(graft.similarity.Similarity
        .assignToCentroids(spark, vecsOf(refDocs), q)
        .select("cid"))
      cids.count()
      cids
    }
    val monitorSchema = Seq("feature", "bin", "n_ref", "n_batch",
      "p_ref", "p_batch", "psi_term", "psi")
    eachBatch(docsStream, checkpoint) { (batch, id) =>
      val b = batch.persist()
      try {
        val (scalarPsi, psiState) = graft.text.CorpusOps.psiWithCheckpoints(spark, refFeats, feats(b))
        // embedding cells ride the scalar monitor schema: feature =
        // 'embedding', bin = cell id — one sink, one drift history
        val embPsi = (quantizer zip refCids).map { case (q, ref) =>
          graft.similarity.Similarity.cellPsiBetween(spark, ref,
              graft.similarity.Similarity.assignToCentroids(spark, vecsOf(b), q)
                .select("cid"),
              q.length)
            .select(lit("embedding").as("feature"),
              col("cid").cast("long").as("bin"),
              col("n_ref"), col("n_batch"), col("p_ref"), col("p_batch"),
              col("psi_term"), col("psi"))
        }
        val psiTable = embPsi
          .foldLeft(scalarPsi.select(monitorSchema.map(col): _*))(
            _ unionByName _)
          .persist()
        psiTable.write.mode("overwrite").parquet(s"$monitorPath/batch=$id")
        val worst = psiTable.agg(max("psi")).head().getDouble(0)
        psiTable.unpersist()
        psiState.foreach(SessionCaches.free)
        // quarantine keeps the FULL row (a human reviews exactly what
        // arrived); a gated batch still writes EMPTY accepted/index
        // partitions, so a replay overwrites identical state
        val healthy = worst <= PsiGate
        if (!healthy) b.write.mode("overwrite").parquet(s"$quarantinePath/batch=$id")
        ingestBatch(if (healthy) b else b.filter(lit(false)), id, indexPath, acceptedPath)
      } finally { b.unpersist(); () }
    }
  }

  /** `batch < id` read of a per-batch partitioned store with its fixed
    * `schema` (so no schema-inference job runs), tolerating a store
    * with no partitions yet (an unseeded store, or the tombstone store
    * before the first erasure): that reads as an empty frame. */
  private def readStore(spark: SparkSession, path: String, schema: StructType,
                        id: Long): DataFrame = {
    val dirs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("batch="))
    if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).parquet(path).filter(col("batch") < id)
  }

  private def storeSchema(cols: (String, DataType)*): StructType =
    StructType((cols :+ ("batch" -> IntegerType)).map { case (n, t) => StructField(n, t) })
  private val IndexSchema =
    storeSchema("doc_id" -> LongType, "band" -> IntegerType, "sig" -> StringType)
  private val AcceptedSchema = storeSchema("doc_id" -> LongType, "text" -> StringType)
  private val TombSchema = storeSchema("doc_id" -> LongType)

  /** In-place compaction of a LIVE ingest store — the maintenance twin
    * of the [[indexCompact]] query, operating on the store the stream
    * actually reads: every batch partition with id ≤ `upTo` is folded
    * into the base partition (`batch=-1`), so the store's file count
    * resets while every `batch < id` read a later micro-batch performs
    * sees EXACTLY the same row set (base rows sort before any live id).
    *
    * Protocol (single maintenance writer, runs between micro-batches):
    * (1) stage the compacted base — reading the store while
    * overwriting `batch=-1` in place would be the read-your-own-
    * overwrite footgun; (2) swap the base (delete + rename, a
    * millisecond window); (3) drop the folded batch dirs. A crash
    * between (2) and (3) leaves folded rows DUPLICATED (present in
    * the new base and their old dirs) — harmless by construction,
    * because candidate generation `distinct()`s before verify, so
    * re-running compaction is the only repair needed. On object
    * storage this whole dance is one table-format snapshot commit
    * (Delta/Iceberg); the protocol, not the design, changes. */
  /** [[compactStore]] variant that also APPLIES tombstones: rows
    * written at batch b and tombstoned at batch > b (the same strict
    * batch-scoped rule the stream reads with) are dropped from the
    * compacted base — the merge-on-read physical delete, done at the
    * rewrite the compaction is already paying for.
    *
    * Batch lineage through compaction: folded rows read as batch −1,
    * so the base would sit BELOW every surviving tombstone and a
    * pre-`upTo` tombstone — correctly applied by this rewrite — would
    * re-erase a re-ingested doc the fold kept, for as long as the
    * tombstone outlives the compaction.
    * The fix is a max-folded-batch marker (`_compacted_upto`, written
    * after the base swap commits): every scoped read lifts base rows
    * to `greatest(batch, floor)`, so tombstones ≤ floor are inert
    * against the base (they were already applied here) while
    * tombstones above the floor still erase it — exactly the view the
    * un-compacted store would give. Reads stay consistent even while
    * OTHER stores sharing the tombstone path are not yet compacted.
    *
    * Tombstone lifecycle: the tombstone partitions must outlive this
    * call while other stores still read them; sweep them
    * ([[sweepTombstones]]) once every store sharing them is compacted
    * past `upTo` — with the floor marker the sweep is disk hygiene,
    * no longer a read-correctness requirement for compacted stores.
    * (A crash between the base swap and the marker write re-opens the
    * window for this store; the repair — rerun the compaction — also
    * rewrites the marker.) */
  def compactStore(spark: SparkSession, storePath: String, upTo: Long,
                   tombPath: Option[String]): Unit = {
    // recover any previous compaction that crashed mid-swap BEFORE
    // reading the store: without this, a crash between demoting the
    // base and promoting the staged copy would make this run read the
    // store base-less and then publish that hole as the new base —
    // permanent row loss
    recoverBase(storePath)
    val prevFloor = compactedUpTo(storePath)
    val staged = new java.io.File(storePath, ".base-staging")
    // batch stays on the frame through the tombstone join (the scoped
    // condition needs it: rows re-ingested AT or above their doc_id's
    // tombstone survive — the same view the stream reads) and is
    // dropped only at the write; a previously-compacted base folds in
    // at its OWN floor, not -1
    val folded = spark.read.parquet(storePath)
      .filter(col("batch") <= upTo)
    val cleaned = tombPath.fold(folded) { tp =>
      val tombs = readStore(spark, tp, TombSchema, upTo + 1)
        .select(col("doc_id").as("t_id"), col("batch").cast("long").as("t_batch"))
      folded.join(broadcast(tombs),
        col("doc_id") === col("t_id") &&
          greatest(col("batch").cast("long"), lit(prevFloor)) < col("t_batch"),
        "left_anti")
    }.drop("batch")
    cleaned.write.mode("overwrite").parquet(staged.getAbsolutePath)
    swapBase(storePath, staged, upTo)
    writeCompactedUpTo(storePath, math.max(upTo, prevFloor))
  }

  def compactStore(spark: SparkSession, storePath: String, upTo: Long): Unit =
    compactStore(spark, storePath, upTo, None)

  /** The store's max-folded-batch floor: rows in the compacted base
    * (`batch=-1`) were written at batches ≤ this value, so scoped
    * tombstone joins read them at `greatest(batch, floor)`. −1 (the
    * seed's own batch) for a never-compacted store. */
  private[graft] def compactedUpTo(storePath: String): Long = {
    val f = new java.io.File(storePath, "_compacted_upto")
    if (f.exists())
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    else -1L
  }

  /** Publish the compaction floor atomically (write-temp + rename), so
    * a reader never sees a torn marker. Underscore-prefixed: invisible
    * to parquet readers of the store. */
  private def writeCompactedUpTo(storePath: String, upTo: Long): Unit = {
    val tmp = new java.io.File(storePath, "._compacted_upto.tmp")
    java.nio.file.Files.write(tmp.toPath,
      upTo.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dst = new java.io.File(storePath, "_compacted_upto")
    java.nio.file.Files.move(tmp.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Drop tombstone partitions with batch ≤ `upTo` — the maintenance
    * step PAIRED with tombstone-applying compaction: run it after
    * every store sharing `tombPath` has been compacted past `upTo`.
    * With the `_compacted_upto` floor this sweep is disk hygiene (a
    * compacted store's reads are already immune to the swept range);
    * it stays paired with compaction so the tombstone store itself
    * never grows without bound. */
  def sweepTombstones(tombPath: String, upTo: Long): Unit =
    Option(new java.io.File(tombPath).listFiles()).getOrElse(Array.empty)
      .filter { d =>
        val n = d.getName
        n.startsWith("batch=") && n.stripPrefix("batch=").toLong <= upTo
      }
      .foreach(rmTree)

  private def rmTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(rmTree); f.delete(); ()
  }

  /** Crash repair for [[swapBase]]'s two-rename protocol. States a
    * crash can leave behind (dot-prefixed dirs are invisible to every
    * parquet reader, so readers see a consistent store throughout):
    *  - `.base-old` present, `batch=-1` missing → died between demote
    *    and promote: restore the old base (the staged copy, if any, is
    *    re-derivable — the folded batch dirs were not yet deleted).
    *  - `.base-old` AND `batch=-1` present → died after promote,
    *    before cleanup: the swap committed; drop the demoted copy.
    *  - `.base-staging` leftovers need no handling — the next run's
    *    overwrite-mode write replaces them. */
  private[graft] def recoverBase(storePath: String): Unit = {
    val base = new java.io.File(storePath, "batch=-1")
    val old = new java.io.File(storePath, ".base-old")
    if (old.exists()) {
      if (!base.exists()) {
        if (!old.renameTo(base))
          throw new IllegalStateException(s"base recovery failed for $base")
      } else rmTree(old)
    }
  }

  /** Commit the staged base via two renames (never a delete-then-
    * rename: that protocol loses the base forever if the writer dies
    * in the millisecond between them —
    * the documented repair, re-running compaction, would read the
    * base-less store and publish the hole). Here the live base is
    * DEMOTED to `.base-old` (a rename, not a delete), the staged copy
    * promoted, and only then is the demoted copy dropped; every
    * intermediate state is repaired by [[recoverBase]] at the next
    * compaction's entry. */
  private def swapBase(storePath: String, staged: java.io.File, upTo: Long): Unit = {
    val base = new java.io.File(storePath, "batch=-1")
    val old = new java.io.File(storePath, ".base-old")
    rmTree(old) // recoverBase ran at entry; any residue here is dead
    if (base.exists() && !base.renameTo(old))
      throw new IllegalStateException(s"compaction demote failed for $base")
    if (!staged.renameTo(base)) {
      // promote failed with the old base already demoted: restore it
      // so the store is never left base-less
      old.renameTo(base)
      throw new IllegalStateException(s"compaction swap failed for $base")
    }
    rmTree(old)
    new java.io.File(storePath).listFiles()
      .filter { d =>
        val n = d.getName
        n.startsWith("batch=") && n != "batch=-1" &&
          n.stripPrefix("batch=").toLong <= upTo
      }
      .foreach(rmTree)
  }

  /** [[ingestDedupFold]]'s probe slice: the fold's accepted rows for
    * [[Dedup.sliceProbe]] docs (the fold is inherently sequential
    * global state, so the Spark side rides the memoized full result —
    * it is the ORACLE that needed slicing: acceptance of a probe
    * depends only on its BACKWARD bucket-partner closure, which is at
    * most 2 odd hops deep because the fold has three batches, so the
    * replay expands that bounded closure instead of the Σf² all-pairs
    * candidate join that exhausted DuckDB's spill disk at sf10). */
  def ingestDedupFoldSlice(spark: SparkSession, dir: String): DataFrame =
    ingestDedupFold(spark, dir).filter(Dedup.sliceProbe(spark, dir))

  /** [[indexCompact]]'s probe slice: the per-band census of the
    * compacted store's CONTENT (corpus ∪ fold-accepted bands — the
    * fragmented store is row-identical to the compacted artifact by
    * the compaction contract) restricted to probe docs. One FileScan +
    * one aggregate; the oracle recomputes the same slice from scratch,
    * deciding odd probes' acceptance through the bounded backward
    * closure. */
  def indexCompactSlice(spark: SparkSession, dir: String): DataFrame = {
    val store = fragmentedStore(spark, dir)
    spark.read.parquet(store.getAbsolutePath)
      .filter(Dedup.sliceProbe(spark, dir))
      .groupBy("band")
      .agg(
        count(lit(1)).as("n_entries"),
        countDistinct("sig").as("n_buckets"),
        countDistinct("doc_id").as("n_docs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_dedup_fold" -> (ingestDedupFold _),
    "ingest_dedup_fold_slice" -> (ingestDedupFoldSlice _),
    "index_compact" -> (indexCompact _),
    "index_compact_slice" -> (indexCompactSlice _))

  /** The fold unrolled as CTEs: vp = every verified (odd doc, other
    * doc) near-dup pair; aK = batch k's accepted docs (no verified
    * partner in the corpus or an EARLIER batch's accepted set). Shared
    * by the fold oracle and the compaction oracle (whose certified
    * content is exactly corpus ∪ accepted bands). */
  private val foldAcceptCtes =
    s"""${Dedup.sigBandsCtes},
       |cand AS (SELECT DISTINCT b.doc_id AS dn, a.doc_id AS dc
       |         FROM bands b JOIN bands a
       |           ON a.band = b.band AND a.bsig = b.bsig
       |        WHERE b.doc_id % 2 = 1 AND a.doc_id <> b.doc_id),
       |n AS (SELECT doc_id, len(sh) AS n FROM sh),
       |inter AS (SELECT dn, dc, count(*) AS c
       |          FROM cand JOIN (SELECT doc_id, unnest(sh) AS s FROM sh) e1 ON e1.doc_id = dn
       |                    JOIN (SELECT doc_id, unnest(sh) AS s FROM sh) e2 ON e2.doc_id = dc
       |          WHERE e1.s = e2.s GROUP BY 1, 2),
       |vp AS (SELECT dn, dc FROM inter
       |       JOIN n n1 ON n1.doc_id = dn
       |       JOIN n n2 ON n2.doc_id = dc
       |       WHERE CAST(c AS DOUBLE)/(n1.n + n2.n - c) >= 0.5),
       |a1 AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 1
       |       AND doc_id NOT IN (SELECT dn FROM vp WHERE dc % 2 = 0)),
       |a2 AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 3
       |       AND doc_id NOT IN (SELECT dn FROM vp
       |         WHERE dc % 2 = 0 OR dc IN (SELECT doc_id FROM a1))),
       |a3 AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 5
       |       AND doc_id NOT IN (SELECT dn FROM vp
       |         WHERE dc % 2 = 0 OR dc IN (SELECT doc_id FROM a1)
       |            OR dc IN (SELECT doc_id FROM a2)))""".stripMargin

  /** Batch rank of a doc in the fold: 0 = standing corpus (even ids),
    * 1/2/3 = the three ingest batches (doc_id % 6 = 1/3/5). */
  private def rkSql(c: String): String =
    s"(CASE WHEN $c % 2 = 0 THEN 0 WHEN $c % 6 = 1 THEN 1 " +
      s"WHEN $c % 6 = 3 THEN 2 ELSE 3 END)"

  /** The fold's PROBE-CLOSURE replay: a probe's
    * acceptance depends only on verified partners in strictly earlier
    * batches; an earlier ODD partner's own status recurses the same
    * way — and the chain is at most 2 odd hops deep (batch 3 → 2 → 1),
    * so TWO unrolled expansions of earlier-odd bucket partners close
    * the dependency set. `cnd` then carries only closure-incident
    * candidate pairs (bounded by probes · bands · occupancy), the
    * verify joins run over that bounded list, and the per-batch accept
    * rules (`a1c`/`a2c`/`a3c`) replay the fold restricted to the
    * closure — every verified partner a closure doc's decision needs
    * is itself in the closure (verified ⊂ bucket-sharing), so the
    * restricted decisions equal the full fold's. Shared by the fold
    * and compaction slice oracles. */
  private lazy val sliceFoldCtes =
    s"""${Dedup.sigBandsCtes},
       |prb AS (SELECT greatest(1, count(*) // ${Dedup.RecallProbes}) AS e FROM documents),
       |p0 AS (SELECT doc_id FROM documents
       |       WHERE doc_id % 2 = 1 AND doc_id % (SELECT e FROM prb) <= 1),
       |o1 AS MATERIALIZED (
       |  SELECT DISTINCT b2.doc_id
       |  FROM p0 JOIN bands b1 ON b1.doc_id = p0.doc_id
       |  JOIN bands b2 ON b2.band = b1.band AND b2.bsig = b1.bsig
       |              AND b2.doc_id <> b1.doc_id
       |  WHERE b2.doc_id % 2 = 1
       |    AND ${rkSql("b2.doc_id")} < ${rkSql("b1.doc_id")}),
       |o2 AS MATERIALIZED (
       |  SELECT DISTINCT b2.doc_id
       |  FROM o1 JOIN bands b1 ON b1.doc_id = o1.doc_id
       |  JOIN bands b2 ON b2.band = b1.band AND b2.bsig = b1.bsig
       |              AND b2.doc_id <> b1.doc_id
       |  WHERE b2.doc_id % 2 = 1
       |    AND ${rkSql("b2.doc_id")} < ${rkSql("b1.doc_id")}),
       |dep AS (SELECT doc_id FROM p0 UNION SELECT doc_id FROM o1
       |        UNION SELECT doc_id FROM o2),
       |cnd AS MATERIALIZED (
       |  SELECT DISTINCT b1.doc_id AS dn, b2.doc_id AS dc
       |  FROM dep JOIN bands b1 ON b1.doc_id = dep.doc_id
       |  JOIN bands b2 ON b2.band = b1.band AND b2.bsig = b1.bsig
       |              AND b2.doc_id <> b1.doc_id
       |  WHERE ${rkSql("b2.doc_id")} < ${rkSql("b1.doc_id")}),
       |n AS (SELECT doc_id, len(sh) AS n FROM sh),
       |cdoc AS (SELECT dn AS doc_id FROM cnd UNION SELECT dc AS doc_id FROM cnd),
       |cex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS s FROM sh JOIN cdoc USING (doc_id)),
       |inter AS (SELECT dn, dc, count(*) AS c
       |          FROM cnd JOIN cex e1 ON e1.doc_id = dn
       |                   JOIN cex e2 ON e2.doc_id = dc
       |          WHERE e1.s = e2.s GROUP BY 1, 2),
       |vp AS (SELECT dn, dc FROM inter
       |       JOIN n n1 ON n1.doc_id = dn
       |       JOIN n n2 ON n2.doc_id = dc
       |       WHERE CAST(c AS DOUBLE)/(n1.n + n2.n - c) >= 0.5),
       |a1c AS (SELECT doc_id FROM dep WHERE doc_id % 6 = 1
       |        AND doc_id NOT IN (SELECT dn FROM vp WHERE dc % 2 = 0)),
       |a2c AS (SELECT doc_id FROM dep WHERE doc_id % 6 = 3
       |        AND doc_id NOT IN (SELECT dn FROM vp
       |          WHERE dc % 2 = 0 OR dc IN (SELECT doc_id FROM a1c))),
       |a3c AS (SELECT doc_id FROM dep WHERE doc_id % 6 = 5
       |        AND doc_id NOT IN (SELECT dn FROM vp
       |          WHERE dc % 2 = 0 OR dc IN (SELECT doc_id FROM a1c)
       |             OR dc IN (SELECT doc_id FROM a2c)))""".stripMargin

  val oracles: Map[String, String] = Map(
    "ingest_dedup_fold" ->
      s"""WITH $foldAcceptCtes
         |SELECT doc_id FROM a1
         |UNION ALL SELECT doc_id FROM a2
         |UNION ALL SELECT doc_id FROM a3""".stripMargin,
    "ingest_dedup_fold_slice" ->
      s"""WITH $sliceFoldCtes
         |SELECT doc_id FROM (
         |  SELECT doc_id FROM a1c
         |  UNION ALL SELECT doc_id FROM a2c
         |  UNION ALL SELECT doc_id FROM a3c) a
         |WHERE doc_id IN (SELECT doc_id FROM p0)""".stripMargin,
    // the compacted store's content slice: bands of probe docs that are
    // corpus members or fold-accepted (acceptance via the closure)
    "index_compact_slice" ->
      s"""WITH $sliceFoldCtes
         |SELECT band, count(*) AS n_entries,
         |       count(DISTINCT bsig) AS n_buckets,
         |       count(DISTINCT doc_id) AS n_docs
         |FROM bands
         |WHERE doc_id % (SELECT e FROM prb) <= 1
         |  AND (doc_id % 2 = 0
         |       OR doc_id IN (SELECT doc_id FROM a1c)
         |       OR doc_id IN (SELECT doc_id FROM a2c)
         |       OR doc_id IN (SELECT doc_id FROM a3c))
         |GROUP BY band""".stripMargin,
    // the compacted store's content from scratch: bands of the seed
    // corpus plus bands of every fold-accepted doc, per-band census
    "index_compact" ->
      s"""WITH $foldAcceptCtes
         |SELECT band, count(*) AS n_entries,
         |       count(DISTINCT bsig) AS n_buckets,
         |       count(DISTINCT doc_id) AS n_docs
         |FROM bands
         |WHERE doc_id % 2 = 0
         |   OR doc_id IN (SELECT doc_id FROM a1)
         |   OR doc_id IN (SELECT doc_id FROM a2)
         |   OR doc_id IN (SELECT doc_id FROM a3)
         |GROUP BY band""".stripMargin)
}
