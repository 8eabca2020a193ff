package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{SessionCaches, Tables}
import graft.operators.WordCount

/** Corpus-assembly operators — the steps between "cleaned documents"
  * and "training batches" that every large-scale LM data pipeline runs
  * after dedup/quality filtering:
  *
  *  - [[sequencePacking]]: concatenate-and-chunk packing of documents
  *    into fixed-length training sequences (the GPT-style pre-training
  *    layout: docs are concatenated in a deterministic order and cut
  *    every `SeqLen` tokens, so a document may span sequences);
  *  - [[sourceMixingWeights]]: temperature-scaled domain-mixing
  *    weights (w_i ∝ n_i^α — the multilingual/multi-domain sampling
  *    move that keeps big sources from drowning small ones);
  *  - [[qualityDecileBins]]: corpus binning by exact decile cutoffs,
  *    computed once and BROADCAST — the scale-safe alternative to a
  *    globally-sorted ntile window.
  *
  * All three are declared, DuckDB-oracled queries on the `documents`
  * table. */
object CorpusOps {

  /** Tokens per packed training sequence. */
  val SeqLen = 2048L

  /** Docs per packing shard — see [[sequencePacking]]'s scale note. */
  val ShardDocs = 4096L

  /** Concatenate-and-chunk sequence packing, per (source, shard).
    *
    * Within each shard, documents are laid end-to-end in doc_id order
    * (the deterministic packing order) and the token stream is cut
    * every [[SeqLen]] tokens: a doc whose token span crosses a cut
    * belongs to several sequences — exactly how GPT-style pre-training
    * batches are laid out (no padding waste; attention masking across
    * doc boundaries is the trainer's concern, not the packer's).
    *
    * The layout is pure window algebra: a running token sum per
    * partition gives each doc its [start, end) offset interval, and
    * integer division by SeqLen turns offsets into sequence ids —
    * no UDF, no iteration.
    *
    * Scale note — why the extra `shard` key: packing is inherently
    * order-dependent, and a window partitioned ONLY by source would
    * serialize each source's whole token stream through one task
    * (sources are few and huge at 100 TB). Sharding by
    * `doc_id div ShardDocs` makes every window partition a bounded
    * unit that packs independently and in parallel; the cost is at
    * most one partially-filled sequence per shard boundary (~0.02% of
    * sequences at these sizes), the standard accepted waste. Sequence
    * ids are shard-local for the same reason — a global id would need
    * a cross-shard prefix sum; trainers key batches by
    * (source, shard, seq) anyway. */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame =
    sequencePackingOf(Tables.load(spark, dir, "documents"))

  /** [[sequencePacking]] over an explicit (doc_id, source, text, …)
    * frame — split out so CorpusOpsSpec can pack a hand-built corpus
    * with known spans. */
  def sequencePackingOf(documents: DataFrame): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("source"),
        // integer `div`, matching the oracle's `//` floor division —
        // double-divide-then-cast truncates toward zero (diverges for
        // negative ids) and loses exactness above 2^53
        expr(s"doc_id div $ShardDocs").as("shard"),
        size(WordCount.tokens(col("text"))).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("end_off", sum("n_tokens").over(w))
      .select(col("source"), col("shard"), col("doc_id"), col("n_tokens"),
        expr(s"(end_off - n_tokens) div $SeqLen").as("start_seq"),
        expr(s"(end_off - 1) div $SeqLen").as("end_seq"))
      .withColumn("n_seqs", col("end_seq") - col("start_seq") + lit(1L))
  }

  /** Temperature-scaled source mixing: sampling weight w_i ∝ n_i^α
    * with α = 0.5, beside the proportional (α = 1) weight it flattens.
    *
    * Shape: one partial-aggregating groupBy over the corpus, then a
    * broadcast of the ONE-row total — never a second full pass. At
    * 100 TB the per-source aggregate is the only data-volume work.
    *
    * Determinism (both engines, bit-equal): α = 0.5 is computed with
    * `sqrt`, which IEEE 754 requires to be correctly rounded (unlike
    * `pow(x, 0.7)`, whose last-ulp behavior is libm-specific — the
    * reason this query pins the temperature at 0.5). The sqrt doubles
    * are summed as DECIMAL(28,10) — exact and order-free where a
    * double sum would depend on Spark's partition order — and the
    * final weight is one double division of identical operands,
    * rounded once. */
  def sourceMixingWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(WordCount.tokens(col("text"))).cast(LongType)).as("n_tokens"))
      .withColumn("w",
        sqrt(col("n_tokens").cast(DoubleType)).cast(DecimalType(28, 10)))
    val tot = per.agg(
      sum(col("w")).as("tw"), sum(col("n_tokens")).as("tt"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast(DoubleType)
          / col("tt").cast(DoubleType), 6).as("weight_prop"),
        round(col("w").cast(DoubleType)
          / col("tw").cast(DoubleType), 6).as("weight_sqrt"))
  }

  /** Decile binning by `n_chars` WITHOUT a global sort: the nine exact
    * decile cutoffs are one tiny aggregate row, broadcast back over
    * the corpus, and each doc counts the cutoffs below it — a narrow
    * second pass. The ntile() spelling every analyst reaches for first
    * would range-partition and SORT the entire corpus to assign the
    * same bins; at 100 TB that is the difference between one aggregate
    * + one map and a full-corpus sort (the bin POPULATIONS can differ
    * from ntile's only by tie handling at cutpoints — ties share a bin
    * here, which is the statistically honest choice).
    *
    * Exact `percentile` (not approx) keeps the DuckDB oracle
    * bit-comparable: both engines use the same (1−g)·a + g·b
    * interpolation over integer inputs. The approx swap
    * (`percentile_approx`) is a one-word change at 100 TB. */
  def qualityDecileBins(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cuts = docs.agg(percentile(col("n_chars"),
      array((1 to 9).map(i => lit(i / 10.0)): _*)).as("cuts"))
    docs.join(broadcast(cuts))
      .select(col("n_chars"),
        (size(filter(col("cuts"), c => col("n_chars") > c)) + 1)
          .cast(LongType).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
  }

  /** Per-doc quality features as (doc_id, feature, v) rows — the
    * frame both the batch PSI query and the streaming monitor bin. */
  private[graft] def qualityFeats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), lit("n_chars").as("feature"),
        col("n_chars").cast(DoubleType).as("v"))
      .unionByName(docs.select(col("doc_id"), lit("n_tokens").as("feature"),
        size(WordCount.tokens(col("text"))).cast(DoubleType).as("v")))

  /** The PSI core over two feature frames: decile edges from `ref`
    * (exact percentile, one tiny broadcast aggregate), both
    * populations binned by counting edges below, smoothed PSI with
    * DECIMAL-summed terms (see [[qualityDriftPsi]]'s Scaladoc). */
  private[graft] def psiBetween(spark: SparkSession, refFeats: DataFrame,
                                batchFeats: DataFrame): DataFrame =
    psiWithCheckpoints(spark, refFeats, batchFeats)._1

  /** [[psiBetween]] together with the two checkpointed frames its table
    * reads. A stream that scores every micro-batch frees them
    * ([[graft.SessionCaches.free]]) once the batch's table is written,
    * so its cached blocks stay flat instead of growing per batch until
    * garbage collection runs. */
  private[graft] def psiWithCheckpoints(spark: SparkSession, refFeats: DataFrame,
                                        batchFeats: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val feats = refFeats.withColumn("is_ref", lit(true))
      .unionByName(batchFeats.withColumn("is_ref", lit(false)))
    // `cuts` (one row per feature) is referenced by the binning join
    // AND the bin census, and `perBin` (features × 10 rows) by the
    // totals AND the final join — and Catalyst re-derives a
    // referenced subtree per reference, which re-ran the corpus scan
    // and tokenization once per reference. Eagerly truncate both tiny
    // frames; every downstream reference reads the materialized rows,
    // so the corpus is scanned once per side.
    val cuts = refFeats
      .groupBy("feature")
      .agg(percentile(col("v"),
        array((1 to 9).map(i => lit(i / 10.0)): _*)).as("cuts"))
      .localCheckpoint(true)
    val binned = feats.join(broadcast(cuts), "feature")
      .select(col("feature"), col("is_ref"),
        (size(filter(col("cuts"), c => col("v") > c)) + 1)
          .cast(LongType).as("bin"))
    val perBin = binned.groupBy("feature", "bin")
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_batch"))
      .localCheckpoint(true)
    // every (feature, bin 1..10) must appear — an EMPTY batch bin is
    // exactly the drift signal the monitor exists to surface
    val allBins = cuts.select("feature")
      .crossJoin(spark.range(1, 11).select(col("id").as("bin")))
    val totals = perBin.groupBy("feature")
      .agg(sum("n_ref").as("tot_ref"), sum("n_batch").as("tot_batch"))
    val pRef = (col("n_ref") + lit(0.5)) / (col("tot_ref") + lit(5.0))
    val pBatch = (col("n_batch") + lit(0.5)) / (col("tot_batch") + lit(5.0))
    val term = round((pBatch - pRef) * log(pBatch / pRef), 12)
      .cast(DecimalType(24, 12))
    val w = Window.partitionBy("feature")
    val table = allBins
      .join(perBin, Seq("feature", "bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_batch"))
      .join(broadcast(totals), "feature")
      .withColumn("t", term)
      .select(col("feature"), col("bin"), col("n_ref"), col("n_batch"),
        round(pRef, 6).as("p_ref"), round(pBatch, 6).as("p_batch"),
        round(col("t").cast(DoubleType), 6).as("psi_term"),
        round(sum(col("t")).over(w).cast(DoubleType), 6).as("psi"))
    (table, Seq(cuts, perBin))
  }

  /** Distribution-drift monitor — the Population Stability Index of
    * the incoming batch (odd doc_ids) against the standing corpus
    * (even doc_ids), per quality feature, over the CORPUS's decile
    * bins. This is the check a production pipeline runs on every
    * ingest before the batch touches the training mix: a crawl whose
    * length or token distribution shifts (new boilerplate, a broken
    * extractor, a new domain mix) shows up here days before it shows
    * up in model evals. Convention: PSI < 0.1 stable, 0.1–0.25 drift
    * worth a look, > 0.25 act.
    *
    * Mechanics, all scale-safe: bin edges are the REFERENCE deciles
    * (exact [[qualityDecileBins]]-style percentile — one tiny
    * aggregate, broadcast), both populations are binned by
    * counting edges below (narrow pass, no sort), and
    * `PSI = Σ_bins (p_batch − p_ref) · ln(p_batch / p_ref)` with
    * additive smoothing `p = (n + 0.5) / (N + 5)` so empty bins stay
    * finite (10 bins × 0.5). Per-bin terms are rounded to 12 decimals
    * and summed as DECIMAL so the per-feature total is
    * order-independent — a raw double window-sum would make the hash
    * depend on partition order. Output: one row per (feature, bin),
    * 20 rows total, each carrying its feature's PSI. */
  def qualityDriftPsi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    psiBetween(spark,
      qualityFeats(docs.filter(col("doc_id") % 2 === 0)),
      qualityFeats(docs.filter(col("doc_id") % 2 === 1)))
  }

  /** One round of the BPE-training inner loop: adjacent-symbol pair
    * frequencies over the word vocabulary, weighted by word count —
    * the top pair is the next merge. The 100 TB insight this query
    * encodes: pair counting runs on the VOCABULARY (distinct words +
    * counts — tens of thousands of rows for any natural corpus), not
    * the token stream. Only the word count touches corpus-scale data,
    * and that is one map-side-combining shuffle; the pair explode,
    * aggregate, and top-50 all run on vocab-sized frames (the top-k is
    * a TakeOrderedAndProject, never a global sort). This is round 1 of
    * [[bpeLearnMerges]]: the same [[bpeInitVocab]], [[bpePairsOf]] and
    * [[bpeTopPairs]].
    *
    * Determinism: ties at the top-50 boundary are broken by the pair
    * string itself — a total order, so the selected SET is unique. */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame =
    bpeTopPairs(bpePairsOf(bpeInitVocab(Tables.load(spark, dir, "documents"))), 50)

  /** The `k` most frequent pairs, `n` descending, then pair ascending. */
  private def bpeTopPairs(pairs: DataFrame, k: Int): DataFrame =
    pairs.orderBy(desc("n"), asc("pair")).limit(k)

  /** Symbol separator for the BPE merge loop — a control char that
    * cannot appear in whitespace-split tokens, so a symbol boundary is
    * never ambiguous. The oracle spells it `chr(1)` to keep the SQL
    * text printable. */
  val BpeSep = "\u0001"

  /** Static merge-round count — fixed so the DuckDB oracle can replay
    * the identical loop as unrolled CTE blocks (the same fixed-loop
    * contract as the IVF k-means trainer; DuckDB 1.0 cannot aggregate
    * over a recursive CTE's working table, so the rounds are generated
    * textually by [[bpeOracleSql]]). */
  val BpeRounds = 6

  /** Initial BPE vocabulary: distinct corpus words with counts, each
    * word exploded to its character symbols with EVERY symbol
    * individually [[BpeSep]]-bracketed — `<S>a<S><S>b<S>` for "ab"
    * (equivalently: joined on a doubled sep, bracketed by single
    * seps). The doubling is load-bearing: a merge site `<S>x<S><S>y<S>`
    * then shares NO characters with its neighbor, so plain
    * left-to-right `replace` applies merges greedily without eating
    * the next site's boundary (single separators would turn `abab`
    * under merge (a,b) into `[ab, a, b]` — CorpusOpsSpec pins
    * `[ab, ab]`). The word count is the ONLY corpus-scale pass in the
    * whole training loop — everything after runs on the vocabulary.
    * `array_remove` guards the empty fragment Java's limit=-1 split
    * appends after the final char. */
  def bpeInitVocab(documents: DataFrame): DataFrame =
    documents
      .select(explode(WordCount.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .select(bpeSymbols(col("word")).as("wstr"), col("wc"))

  /** A word as its [[BpeSep]]-bracketed character symbols (see
    * [[bpeInitVocab]]). */
  private def bpeSymbols(word: Column): Column =
    concat(lit(BpeSep),
      concat_ws(BpeSep + BpeSep, array_remove(split(word, ""), "")),
      lit(BpeSep))

  /** Adjacent-pair counts over a symbol-string vocabulary: splitting
    * the per-symbol-bracketed form on [[BpeSep]] yields
    * `['', sym1, '', sym2, …, '']` — a word of n symbols has list
    * length 2n+1 with symbols at even 1-based indices 2, 4, …, 2n —
    * so pair i (1..n−1) is `(l[2i], l[2i+2])`; word counts sum per
    * pair. Single-symbol words get a null sequence, so no pairs:
    * Spark's `sequence(1, 0)` steps backward where DuckDB's
    * `generate_series(1, 0)` is empty. (A `filter` would do the same,
    * but Catalyst pushes it below [[bpeInitVocab]]'s word count, where
    * it rebuilds the symbol string once per token instead of once per
    * word.) */
  def bpePairsOf(vocab: DataFrame): DataFrame = {
    val l = split(col("wstr"), BpeSep)
    val nSyms = ((size(l) - 1) / 2).cast("int")
    vocab.select(col("wc"),
        explode(transform(when(nSyms >= 2, sequence(lit(1), nSyms - 1)),
          i => concat(element_at(l, i * 2), lit(" "),
            element_at(l, i * 2 + 2))))
          .as("pair"))
      .groupBy("pair").agg(sum("wc").as("n"))
  }

  /** Apply one merge (x, y) → xy to every word: a single literal
    * string `replace`, which both engines run as a left-to-right
    * NON-OVERLAPPING scan that resumes after each replacement — so
    * `a a a` under merge (a,a) becomes `[aa, a]`, the standard BPE
    * greedy application (CorpusOpsSpec pins this). Other columns pass
    * through. Narrow map, no shuffle. */
  def bpeApplyMerge(vocab: DataFrame, x: String, y: String): DataFrame =
    vocab.withColumn("wstr",
      replace(col("wstr"),
        lit(BpeSep + x + BpeSep + BpeSep + y + BpeSep),
        lit(BpeSep + x + y + BpeSep)))

  /** [[BpeRounds]] rounds of the full BPE-training recurrence: count
    * pairs → elect the best (max count, pair string as the total-order
    * tie-break) → apply the merge → repeat, emitting the merge table
    * `(merge_round, pair, n)` — the artifact a tokenizer trainer
    * actually ships.
    *
    * Scale shape: the corpus-scale word count runs ONCE and is cached
    * at vocabulary size (the persist below); each round is then one
    * vocabulary-scale aggregate plus a ONE-row collect of the elected
    * pair (the bounded driver-state idiom the IVF trainer uses — the
    * driver holds 6 pairs total, never data), and the merge
    * application is a narrow distributed map. This is structurally the
    * subword-nmt trainer with the pair statistics kept distributed. */
  def bpeMergeRounds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeLearnMerges(spark, dir).toDF("merge_round", "pair", "n")
  }

  /** The training loop behind [[bpeMergeRounds]] and
    * [[bpeEncodeStats]], memoized per (session, corpus): the merge
    * table is immutable per corpus and BOUNDED driver state (6 pairs —
    * the artifact a trainer ships), so training runs once and every
    * consumer (the merge-table query, the encoder, bench reps) reuses
    * it. */
  def bpeLearnMerges(spark: SparkSession, dir: String): Seq[(Long, String, Long)] =
    SessionCaches.memo(spark, "corpus.bpeMerges", dir) {
      import spark.implicits._
      val vocab0 = bpeInitVocab(Tables.load(spark, dir, "documents")).persist()
      try {
        var vocab = vocab0
        val merges = Seq.newBuilder[(Long, String, Long)]
        for (r <- 1 to BpeRounds) {
          val (pair, n) = bpeTopPairs(bpePairsOf(vocab), 1)
            .as[(String, Long)].head()
          merges += ((r.toLong, pair, n))
          val Array(x, y) = pair.split(' ')
          vocab = bpeApplyMerge(vocab, x, y)
        }
        merges.result()
      } finally vocab0.unpersist(false)
    }

  /** ENCODE with the learned tokenizer — the other half of the BPE
    * loop ([[bpeMergeRounds]] trains; this applies): run the merge
    * table over the corpus and report, per source, the token count
    * before (character symbols) and after (BPE tokens) — the
    * compression the tokenizer actually buys, the number that sizes
    * training cost.
    *
    * The 100 TB shape is the classic tokenizer-application trick:
    * encoding is a function of the WORD, so the merges are applied to
    * the distinct-word VOCABULARY (tens of thousands of rows for any
    * natural corpus — each merge a narrow literal `replace` by
    * [[bpeApplyMerge]]), and the
    * per-word token count broadcast-joins back to the per-(source,
    * word) count frame. The corpus-scale text is touched exactly once
    * (the word count); no merge ever rewrites a corpus-scale row.
    *
    * All outputs are exact integer sums — no float drift surface. The
    * oracle replays training via [[bpeOracleSql]]'s unrolled CTE
    * recurrence, then applies the same six replaces to a word-keyed
    * vocabulary chain. */
  def bpeEncodeStats(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeLearnMerges(spark, dir)
    val perWord = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(WordCount.tokens(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("wc"))
    val vocab = perWord.select("word").distinct()
      .select(col("word"), bpeSymbols(col("word")).as("wstr"))
    val encoded = merges.foldLeft(vocab) { case (v, (_, pair, _)) =>
      val Array(x, y) = pair.split(' ')
      bpeApplyMerge(v, x, y)
    }.select(col("word"),
      ((size(split(col("wstr"), BpeSep)) - 1) / 2).cast(LongType).as("n_bpe"))
    perWord.join(broadcast(encoded), "word")
      .groupBy("source")
      .agg(
        sum(col("wc")).as("n_words"),
        sum(col("wc") * length(col("word"))).as("n_char_syms"),
        sum(col("wc") * col("n_bpe")).as("n_bpe_tokens"))
  }

  /** The training recurrence as CTE text, shared by both BPE oracles:
    * `words`/`v0` seed the vocabulary, then one (pairs → counts →
    * best → apply) block per round, generated textually so the SQL
    * replays the identical static loop. */
  private def bpeRecurrenceCtes: String = {
    val sb = new StringBuilder
    sb.append(
      """words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
        |  FROM documents),
        |v0 AS (
        |  SELECT chr(1) || array_to_string(string_split(word, ''), chr(1) || chr(1)) || chr(1) AS wstr,
        |         count(*) AS wc
        |  FROM words GROUP BY 1)""".stripMargin)
    for (r <- 1 to BpeRounds) {
      sb.append(s""",
        |p$r AS (
        |  SELECT t.l[2*u.i] || ' ' || t.l[2*u.i+2] AS pair, t.wc
        |  FROM (SELECT string_split(wstr, chr(1)) AS l, wc FROM v${r - 1}) t,
        |       LATERAL unnest(generate_series(1, (len(t.l) - 1) // 2 - 1)) u(i)),
        |c$r AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM p$r GROUP BY pair),
        |b$r AS (SELECT pair, n FROM c$r ORDER BY n DESC, pair LIMIT 1),
        |v$r AS (
        |  SELECT replace(v.wstr, chr(1) || replace(b.pair, ' ', chr(1) || chr(1)) || chr(1),
        |                 chr(1) || replace(b.pair, ' ', '') || chr(1)) AS wstr, v.wc
        |  FROM v${r - 1} v, b$r b)""".stripMargin)
    }
    sb.toString
  }

  /** Unrolled-round oracle for [[bpeMergeRounds]]. */
  private def bpeOracleSql: String =
    "WITH " + bpeRecurrenceCtes + "\n" +
      (1 to BpeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_round, pair, n FROM b$r")
        .mkString("\nUNION ALL\n")

  /** Oracle for [[bpeEncodeStats]]: replay training via
    * [[bpeRecurrenceCtes]], then apply the six elected merges to a
    * word-KEYED vocabulary chain (e0…e6 — same literal replace, word
    * carried through) and aggregate per source. */
  private def bpeEncodeOracleSql: String = {
    val sb = new StringBuilder
    sb.append("WITH " + bpeRecurrenceCtes)
    sb.append(
      """,
        |perword AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
        |  FROM documents),
        |pw AS (SELECT source, word, count(*) AS wc FROM perword GROUP BY 1, 2),
        |e0 AS (
        |  SELECT word, chr(1) || array_to_string(string_split(word, ''), chr(1) || chr(1)) || chr(1) AS wstr
        |  FROM (SELECT DISTINCT word FROM pw) t)""".stripMargin)
    for (r <- 1 to BpeRounds) {
      sb.append(s""",
        |e$r AS (
        |  SELECT e.word, replace(e.wstr, chr(1) || replace(b.pair, ' ', chr(1) || chr(1)) || chr(1),
        |                 chr(1) || replace(b.pair, ' ', '') || chr(1)) AS wstr
        |  FROM e${r - 1} e, b$r b)""".stripMargin)
    }
    sb.append(s"""
      |SELECT source,
      |       CAST(SUM(p.wc) AS BIGINT) AS n_words,
      |       CAST(SUM(p.wc * len(p.word)) AS BIGINT) AS n_char_syms,
      |       CAST(SUM(p.wc * ((len(string_split(e.wstr, chr(1))) - 1) // 2)) AS BIGINT) AS n_bpe_tokens
      |FROM pw p JOIN e$BpeRounds e ON p.word = e.word
      |GROUP BY source""".stripMargin)
    sb.toString
  }

  /** APPLY the temperature weights: downsample over-represented
    * sources to their sqrt-temperature token share, deterministically.
    * Per source, keep probability = min(1, target share / actual
    * share); a doc survives when its 60-bit content-hash mod 10^6
    * falls under floor(10^6 · p) — the same content-hash selection as
    * the train/eval split, so the sample is stable under
    * recomputation, re-sharding, and duplicate texts. Sources at or
    * below their target keep everything (upsampling is epoch
    * repetition at training time, not row duplication here).
    *
    * Cross-engine determinism of the threshold: the sqrt weight is
    * quantized to DECIMAL(28,10) (sqrt is IEEE-correctly-rounded,
    * decimal quantization pins it), the sums are exact decimal/int64,
    * and the final ratio is evaluated in doubles with an identical
    * operation tree in both engines — every +,*,/ is correctly
    * rounded, so the floor lands identically. The decimal→double
    * casts stay under 2^53 scaled (documented sf1 lesson). Output is
    * the per-source audit: docs/tokens kept vs total. */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("text"),
        size(WordCount.tokens(col("text"))).cast(LongType).as("n_tok"),
        (WordCount.fp60(col("text")) % 1000000L).as("h6"))
    val per = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("t"))
      .withColumn("w", sqrt(col("t").cast(DoubleType)).cast(DecimalType(28, 10)))
    val tot = per.agg(sum(col("w")).as("tw"), sum(col("t")).as("tt"))
    val thresholds = per.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(1000000L), floor(lit(1000000.0) *
          ((col("w").cast(DoubleType) * col("tt").cast(DoubleType))
            / (col("tw").cast(DoubleType) * col("t").cast(DoubleType))))
          .cast(LongType)).as("thr"))
    docs.join(broadcast(thresholds), "source")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs_total"),
        sum("n_tok").as("n_tokens_total"),
        sum(when(col("h6") < col("thr"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("h6") < col("thr"), col("n_tok")).otherwise(0L))
          .as("n_tokens_kept"))
  }

  /** Length-bucketed batch shaping audit: assign each doc to the next
    * power-of-two token bucket (16 … 65536) and report per bucket the
    * sequence count, real tokens, and PADDING tokens a fixed-shape
    * batcher would burn (n_seqs · bucket − Σ tokens) — the metric that
    * decides bucket granularity for inference/fine-tuning batching.
    * Pure integer CASE laddering (no log2 — libm-free contract), one
    * narrow pass + one aggregate on a ≤13-value key. */
  val PadBuckets: Seq[Long] = (4 to 16).map(1L << _) // 16 … 65536

  def lengthBucketPadding(spark: SparkSession, dir: String): DataFrame = {
    val n = size(WordCount.tokens(col("text"))).cast(LongType)
    val bucket = PadBuckets.reverse.tail.foldLeft(
      lit(PadBuckets.last): org.apache.spark.sql.Column) { (acc, b) =>
      when(n <= b, b).otherwise(acc)
    }
    Tables.load(spark, dir, "documents")
      .select(n.as("n_tok"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_seqs"),
        sum("n_tok").as("n_tokens"),
        (sum(col("bucket")) - sum(col("n_tok"))).as("n_padding"))
  }

  /** Docs kept per source by [[domainCapTopk]]. */
  val DomainCap = 10

  /** Per-domain document cap — the "no single domain dominates the
    * mix" guard every web-scale corpus applies before packing (cap
    * pages per site / docs per source): keep the top [[DomainCap]]
    * docs per source ranked by length (n_chars desc, doc_id tiebreak).
    *
    * Runs on the engine's own [[graft.plans.TopKPerKeyExec]] heap
    * operator (constructed directly, not via the window rewrite): one
    * exchange on `source`, O(n log K) per partition, and the shuffle
    * output is K rows per source — never a full per-source sort. At
    * 100 TB with millions of domains this is the only shape that
    * works: the window form would sort every domain's full document
    * list just to throw away all but K rows. */
  def domainCapTopk(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
      Tables.load(spark, dir, "documents").select("source", "doc_id", "n_chars"),
      keys = Seq("source"),
      order = Seq("n_chars" -> false, "doc_id" -> true),
      k = DomainCap)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "domain_cap_topk" -> (domainCapTopk _),
    "sequence_packing" -> (sequencePacking _),
    "source_mixing_weights" -> (sourceMixingWeights _),
    "quality_decile_bins" -> (qualityDecileBins _),
    "quality_drift_psi" -> (qualityDriftPsi _),
    "bpe_pair_counts" -> (bpePairCounts _),
    "bpe_merge_rounds" -> (bpeMergeRounds _),
    "bpe_encode_stats" -> (bpeEncodeStats _),
    "temperature_sample" -> (temperatureSample _),
    "length_bucket_padding" -> (lengthBucketPadding _))

  val oracles: Map[String, String] = Map(
    // the PSI replayed: same reference-decile edges (quantile_cont ==
    // Spark's exact interpolating percentile on integer-valued
    // doubles), same smoothing, terms rounded to 12 decimals and
    // summed as DECIMAL for an order-independent per-feature total
    "quality_drift_psi" ->
      """WITH feats AS (
        |  SELECT doc_id, 'n_chars' AS feature, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'n_tokens',
        |         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS DOUBLE)
        |  FROM documents),
        |cuts AS (
        |  SELECT feature,
        |         quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
        |  FROM feats WHERE doc_id % 2 = 0 GROUP BY feature),
        |binned AS (
        |  SELECT f.feature, f.doc_id,
        |         CAST(1 + len(list_filter(c.cuts, x -> f.v > x)) AS BIGINT) AS bin
        |  FROM feats f JOIN cuts c ON c.feature = f.feature),
        |per_bin AS (
        |  SELECT feature, bin,
        |         CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |         CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch
        |  FROM binned GROUP BY 1, 2),
        |all_bins AS (
        |  SELECT feature, CAST(unnest(generate_series(1, 10)) AS BIGINT) AS bin
        |  FROM cuts),
        |tot AS (
        |  SELECT feature, SUM(n_ref) AS tot_ref, SUM(n_batch) AS tot_batch
        |  FROM per_bin GROUP BY feature),
        |terms AS (
        |  SELECT a.feature, a.bin,
        |         coalesce(p.n_ref, 0) AS n_ref,
        |         coalesce(p.n_batch, 0) AS n_batch,
        |         (coalesce(p.n_ref, 0) + 0.5) / (t.tot_ref + 5.0) AS p_ref,
        |         (coalesce(p.n_batch, 0) + 0.5) / (t.tot_batch + 5.0) AS p_batch
        |  FROM all_bins a
        |  LEFT JOIN per_bin p ON p.feature = a.feature AND p.bin = a.bin
        |  JOIN tot t ON t.feature = a.feature),
        |dec AS (
        |  SELECT *, CAST(round((p_batch - p_ref) * ln(p_batch / p_ref), 12)
        |                 AS DECIMAL(24, 12)) AS term
        |  FROM terms)
        |SELECT feature, bin, n_ref, n_batch,
        |       round(p_ref, 6) AS p_ref, round(p_batch, 6) AS p_batch,
        |       round(CAST(term AS DOUBLE), 6) AS psi_term,
        |       round(CAST(SUM(term) OVER (PARTITION BY feature) AS DOUBLE), 6) AS psi
        |FROM dec""".stripMargin,
    "domain_cap_topk" ->
      s"""SELECT source, doc_id, n_chars FROM (
         |  SELECT source, doc_id, n_chars,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= $DomainCap""".stripMargin,
    "bpe_merge_rounds" -> bpeOracleSql,
    "bpe_encode_stats" -> bpeEncodeOracleSql,
    "temperature_sample" ->
      """WITH d AS (
        |  SELECT source,
        |         CAST(len(list_filter(string_split(text,' '), w -> w <> '')) AS BIGINT) AS n_tok,
        |         CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 1000000 AS h6
        |  FROM documents),
        |per AS (SELECT source, SUM(n_tok) AS t,
        |               CAST(sqrt(CAST(SUM(n_tok) AS DOUBLE)) AS DECIMAL(28,10)) AS w
        |        FROM d GROUP BY source),
        |tot AS (SELECT SUM(w) AS tw, CAST(SUM(t) AS BIGINT) AS tt FROM per),
        |thr AS (SELECT source,
        |               least(1000000, CAST(floor(1000000.0 *
        |                 ((CAST(w AS DOUBLE) * CAST(tt AS DOUBLE))
        |                  / (CAST(tw AS DOUBLE) * CAST(t AS DOUBLE)))) AS BIGINT)) AS thr
        |        FROM per, tot)
        |SELECT d.source, count(*) AS n_docs_total,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens_total,
        |       CAST(SUM(CASE WHEN h6 < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
        |       CAST(SUM(CASE WHEN h6 < thr THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_kept
        |FROM d JOIN thr USING (source)
        |GROUP BY d.source""".stripMargin,
    "length_bucket_padding" -> {
      val ladder = PadBuckets.init
        .map(b => s"WHEN n_tok <= $b THEN $b")
        .mkString(" ")
      s"""WITH d AS (
         |  SELECT CAST(len(list_filter(string_split(text,' '), w -> w <> '')) AS BIGINT) AS n_tok
         |  FROM documents),
         |b AS (SELECT n_tok,
         |             CAST(CASE $ladder ELSE ${PadBuckets.last} END AS BIGINT) AS bucket
         |      FROM d)
         |SELECT bucket, count(*) AS n_seqs,
         |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(SUM(bucket) - SUM(n_tok) AS BIGINT) AS n_padding
         |FROM b GROUP BY bucket""".stripMargin
    },
    "sequence_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, doc_id // $ShardDocs AS shard,
         |         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT source, shard, doc_id, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
         |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
         |  FROM t WHERE n_tokens > 0)
         |SELECT source, shard, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       (end_off - n_tokens) // $SeqLen AS start_seq,
         |       (end_off - 1) // $SeqLen AS end_seq,
         |       (end_off - 1) // $SeqLen - (end_off - n_tokens) // $SeqLen + 1 AS n_seqs
         |FROM c""".stripMargin,
    "source_mixing_weights" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *, CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,10)) AS w
        |      FROM per),
        |tot AS (SELECT SUM(w) AS tw, CAST(SUM(n_tokens) AS BIGINT) AS tt FROM w)
        |SELECT source, n_docs, n_tokens,
        |       round(CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS weight_prop,
        |       round(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS weight_sqrt
        |FROM w, tot""".stripMargin,
    "bpe_pair_counts" ->
      """WITH words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
        |  FROM documents),
        |wc AS (SELECT word, count(*) AS wcnt FROM words
        |       WHERE length(word) >= 2 GROUP BY word),
        |pairs AS (
        |  SELECT substring(word, i, 1) || ' ' || substring(word, i + 1, 1) AS pair, wcnt
        |  FROM wc, LATERAL unnest(generate_series(1, length(word) - 1)) t(i))
        |SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "quality_decile_bins" ->
      """WITH cuts AS (
        |  SELECT quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
        |  FROM documents)
        |SELECT CAST(1 + len(list_filter(cuts, c -> n_chars > c)) AS BIGINT) AS bin,
        |       count(*) AS n_docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents, cuts
        |GROUP BY 1""".stripMargin)
}
