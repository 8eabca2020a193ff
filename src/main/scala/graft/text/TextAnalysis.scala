package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{SessionCaches, Tables}
import graft.operators.WordCount

/** Text-analysis operators for a training-data pipeline: corpus stats,
  * quality scoring, language-ID heuristic, tokenizer counting, and
  * document fingerprinting — all narrow per-row transforms (codegen'd
  * builtin expressions, no UDFs) followed by one hash aggregate, so the
  * only shuffle is the final per-group exchange. The reference's own
  * text capability is tokenize+count (WordCount.java:26) — everything
  * here generalizes that surface.
  *
  * Cross-engine determinism: ratios are exact-int divisions cast to
  * double; scores use pure +*- arithmetic (no ln/exp whose libm rounding
  * could differ) and are rounded to 6 dp on both sides; fingerprints are
  * md5-based (identical hex in JVM and DuckDB) or 31-ary rolling hashes
  * mod 2^31-1 folded left-to-right in both engines.
  */
object TextAnalysis {

  val stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  /** Per-language rollup: docs, exact avg chars, distinct sources. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum("n_chars").cast(DoubleType) / count(lit(1))).as("avg_chars"),
        countDistinct("source").as("n_sources"))

  /** The per-doc quality expressions over a `text` column — ONE
    * definition shared by `text_quality` and `training_set_select`
    * (both oracle-pinned; a drift between two copies would silently
    * diverge them). */
  private case class QualityExprs(nTok: Column, nPunct: Column,
                                  nDigit: Column, nStop: Column,
                                  stopRatio: Column, score: Column)

  private def qualityExprs: QualityExprs = {
    val toks = WordCount.tokens(col("text"))
    val nTok = size(toks).cast(LongType)
    val nPunct = regexp_count(col("text"), lit("[.,!?;:]")).cast(LongType)
    val nDigit = regexp_count(col("text"), lit("[0-9]")).cast(LongType)
    val nStop = size(filter(toks, w => w.isin(stopwords: _*))).cast(LongType)
    val stopRatio = when(nTok === 0, 0.0)
      .otherwise(nStop.cast(DoubleType) / nTok.cast(DoubleType))
    val punctRatio = when(length(col("text")) === 0, 0.0)
      .otherwise(nPunct.cast(DoubleType) / length(col("text")).cast(DoubleType))
    val score = round(
      lit(0.5) * stopRatio
        + lit(0.3) * (least(nTok, lit(100L)).cast(DoubleType) / 100.0)
        - lit(0.2) * punctRatio, 6)
    QualityExprs(nTok, nPunct, nDigit, nStop, stopRatio, score)
  }

  /** Per-document quality metrics + a deterministic composite score. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityExprs
    Tables.load(spark, dir, "documents").select(
      col("doc_id"),
      q.nTok.as("n_tokens"),
      q.nPunct.as("n_punct"),
      q.nDigit.as("n_digits"),
      q.nStop.as("n_stopwords"),
      round(q.stopRatio, 6).as("stop_ratio"),
      q.score.as("quality_score"))
  }

  /** Gopher-style hard quality gates (Rae et al. 2021 §A1.1, the
    * published rule bundle production corpora filter with) as ONE fused
    * narrow pass. Every ratio rule is INTEGER CROSS-MULTIPLIED
    * (3·n ≤ chars instead of chars/n ≥ 3) so the gates are exact in
    * both engines — no double division anywhere, which is what lets a
    * pass/fail bitmap be hash-oracled at all. Gates: word count in
    * [50, 100k]; mean word length in [3, 10]; distinct-token fraction
    * ≥ 0.3 (the repetition rule); ≥ 2 distinct stopwords (the zh docs
    * fail this one by construction — gates are language-aware
    * upstream, which is why lang-ID runs before gating in a real
    * pipeline). `pass` is the product, so one flipped gate flips the
    * census. */
  /** Classifier-based quality filtering — the MODEL-inference stage
    * (the CCNet / FineWeb-style fastText-classifier analog) that runs
    * after the rule gates: a linear scorer over exact integer features
    * (stopword ratio, mean word length, distinct-token ratio), with
    * the weight vector carried as a one-row broadcast MODEL frame —
    * the "model artifact joined to corpus" shape a real inference
    * pass has at 100 TB (weights ship to executors; the corpus never
    * moves). One narrow pass, one per-source aggregate.
    *
    * Cross-engine determinism: every feature is an exact int64; each
    * ratio is ONE IEEE division; the score is a fixed left-associated
    * multiply-add tree, spelled identically in the oracle — so the
    * accept threshold compares bit-identical doubles. Per-source
    * outputs are counts plus min/max score (order-free), never a mean
    * of doubles (partition-order-dependent). Docs with zero tokens
    * are excluded in both engines (no 0/0 surface). */
  val classifierWeights: (Double, Double, Double, Double, Double) =
    (-3.0, 10.0, 0.5, 2.0, 1.0) // w0, w_stop, w_wordlen, w_distinct, tau

  def qualityClassifierScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = WordCount.tokens(col("text"))
    val L = size(toks).cast(LongType)
    val C = length(expr("replace(text, ' ', '')")).cast(LongType)
    val S = size(filter(toks, w => w.isin(stopwords: _*))).cast(LongType)
    val D = size(array_distinct(toks)).cast(LongType)
    val (w0, ws, wl, wr, tau) = classifierWeights
    val model = spark.createDataFrame(Seq((w0, ws, wl, wr, tau)))
      .toDF("w0", "ws", "wl", "wr", "tau")
    val score = col("w0") +
      col("ws") * (col("s").cast(DoubleType) / col("l")) +
      col("wl") * (col("c").cast(DoubleType) / col("l")) +
      col("wr") * (col("d").cast(DoubleType) / col("l"))
    Tables.load(spark, dir, "documents")
      .select(col("source"), L.as("l"), C.as("c"), S.as("s"), D.as("d"))
      .filter(col("l") > 0)
      .crossJoin(broadcast(model))
      .select(col("source"), score.as("score"), col("tau"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score") >= col("tau"), 1L).otherwise(0L)).as("n_accepted"),
        round(min(col("score")), 6).as("min_score"),
        round(max(col("score")), 6).as("max_score"))
  }

  def gopherQualityGates(spark: SparkSession, dir: String): DataFrame = {
    val toks = WordCount.tokens(col("text"))
    val n = size(toks).cast(LongType)
    val c = length(expr("replace(text, ' ', '')")).cast(LongType)
    val nd = size(array_distinct(toks)).cast(LongType)
    val ns = size(array_intersect(
      typedlit(stopwords), toks)).cast(LongType)
    def gate(cond: Column): Column = when(cond, 1L).otherwise(0L)
    Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        gate(n >= 50 && n <= 100000).as("g_len"),
        gate(n * 3 <= c && c <= n * 10).as("g_wordlen"),
        gate(nd * 10 >= n * 3).as("g_repeat"),
        gate(ns >= 2).as("g_stop"))
      .withColumn("pass",
        col("g_len") * col("g_wordlen") * col("g_repeat") * col("g_stop"))
  }

  /** Marker-word language-ID heuristic. Scores each language by marker
    * hits in the token stream; argmax with alphabetical tie-break
    * (expressed as a fixed CASE priority, identical in the oracle). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("und", "der", "nicht"),
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "les", "et"),
    "zh" -> Seq("的", "是"))

  /** Round-5 rewrite under the interpreted-lambda rule (SCALING.md):
    * the declarative form evaluated FIVE `filter(toks, isin)` array
    * lambdas interpreted per row and re-evaluated them inside the
    * argmax `when` chain — the exact pattern this codebase measured
    * 10–25× slower than a typed kernel everywhere else (the query sat
    * at 2.0× the round-0 baseline for two rounds because of it). Now
    * one mapPartitions pass: a marker→langs hash map is built once per
    * partition, each doc is tokenized in a single char scan (same
    * single-space split-with-empties-dropped convention as
    * [[graft.operators.WordCount.tokens]]), and the argmax takes the
    * FIRST language in [[langMarkers]] order among maximal scores —
    * bit-identical to the old CASE-priority semantics and to the
    * unchanged SQL oracle. */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val markers = langMarkers
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val langs = markers.map(_._1).toArray
        val index = new java.util.HashMap[String, Array[Int]]()
        for (((_, ms), i) <- markers.zipWithIndex; m <- ms) {
          val prev = index.get(m)
          index.put(m, if (prev == null) Array(i) else prev :+ i)
        }
        it.map { case (id, lang, text) =>
          val counts = new Array[Long](langs.length)
          val n = text.length
          var start = 0
          var i = 0
          while (i <= n) {
            if (i == n || text.charAt(i) == ' ') {
              if (i > start) {
                val hit = index.get(text.substring(start, i))
                if (hit != null) {
                  var k = 0
                  while (k < hit.length) { counts(hit(k)) += 1; k += 1 }
                }
              }
              start = i + 1
            }
            i += 1
          }
          var bi = 0
          var j = 1
          while (j < counts.length) {
            if (counts(j) > counts(bi)) bi = j
            j += 1
          }
          (id, lang, langs(bi))
        }
      }
      .toDF("doc_id", "tagged_lang", "predicted_lang")
  }

  /** Token counting, two tokenizers: whitespace words and a BPE-ish
    * lexer regex (letter runs | digit runs | single other non-space). */
  val bpeRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("lang"),
        size(WordCount.tokens(col("text"))).cast(LongType).as("ws"),
        regexp_count(col("text"), lit(bpeRegex)).cast(LongType).as("bpe"))
      .groupBy("lang")
      .agg(
        sum("ws").as("n_ws_tokens"),
        sum("bpe").as("n_bpe_tokens"),
        count(lit(1)).as("n_docs"))

  /** 60-bit md5 content fingerprint + 31-ary rolling hash mod 2^31-1.
    * The rolling hash folds codepoints left-to-right — the same order
    * the oracle's list_reduce uses. Both hashes run in ONE typed
    * mapPartitions kernel (tight JVM loop, one MessageDigest per
    * partition): the round-2 `aggregate` higher-order-lambda form
    * evaluated interpreted over a per-character split array — the
    * pattern this codebase measured 10–25× slower everywhere else
    * (0.74 s at sf0.1 vs ~0.1 here). Narrow, zero-shuffle either way. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // first 15 hex nibbles of md5 = 60-bit fingerprint (same
          // bytes-to-long fold as Dedup.baseHashJvm, without the mod p)
          val b = md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var m = 0L
          var i = 0
          while (i < 7) { m = (m << 8) | (b(i) & 0xffL); i += 1 }
          m = (m << 4) | ((b(7) & 0xffL) >>> 4)
          var r = 0L
          val cps = text.codePoints().iterator()
          while (cps.hasNext) { r = (r * 31L + cps.next()) % 2147483647L }
          (id, m, r)
        }
      }
      .toDF("doc_id", "md5_fp", "roll_fp")
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * SIGMOD'03 — the MOSS algorithm): per document, hash every 3-gram
    * (with multiplicity, in order), slide a window of [[WinnowW]]
    * consecutive hashes, and select each window's minimum; the
    * DISTINCT selected values are the document's fingerprint sketch —
    * guaranteed to catch any shared substring of ≥ w+k−1 tokens while
    * storing ~2/(w+1) of the grams. Selection-by-VALUE makes position
    * tie-breaks irrelevant, so the sketch is deterministic in both
    * engines. Docs shorter than one full window winnow their single
    * truncated window (≥ 1 fingerprint for any doc with a gram).
    *
    * The whole algorithm is one narrow mapPartitions kernel (tight
    * JVM loop over the gram hashes, zero shuffle, nothing but the
    * summary row leaves the executor); the oracle replays it
    * relationally — gram hashes via the shared md5-mod-p formula, the
    * window min via `min() OVER (ROWS BETWEEN CURRENT ROW AND w-1
    * FOLLOWING)`, COUNT(DISTINCT) of the selected values. */
  val WinnowW = 4

  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintsOf(spark, Tables.load(spark, dir, "documents"))

  /** [[winnowFingerprints]] over an explicit (doc_id, text, …) frame —
    * split out so TextAnalysisSpec can pin hand-built window shapes. */
  def winnowFingerprintsOf(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    documents
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          val ws = t.split(" ").filter(_.nonEmpty)
          if (ws.length < 3) Iterator.empty
          else {
            val n = ws.length - 2
            val hs = new Array[Long](n)
            var i = 0
            while (i < n) {
              hs(i) = graft.dedup.Dedup.baseHashJvm(
                md, ws(i) + "|" + ws(i + 1) + "|" + ws(i + 2))
              i += 1
            }
            val sel = scala.collection.mutable.Set.empty[Long]
            val nStarts = math.max(1, n - (WinnowW - 1))
            var s = 0
            while (s < nStarts) {
              var m = Long.MaxValue
              var j = s
              val end = math.min(s + WinnowW, n)
              while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
              sel += m
              s += 1
            }
            Iterator.single((id, n.toLong, sel.size.toLong))
          }
        }
      }
      .toDF("doc_id", "n_grams", "n_selected")
  }

  /** The composed training-set selection pipeline — what the individual
    * operators exist FOR: exact-dedup survivors → quality scoring →
    * threshold filters → the per-doc rows you'd materialize as a
    * training shard. One content-key shuffle (dedup semi join) + narrow
    * quality kernels; at 100 TB the dedup key becomes sha2(text) and
    * the output is a partitioned parquet write instead of a result set. */
  def trainingSetSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val survivorIds = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val q = qualityExprs
    docs.join(survivorIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), q.nTok.as("n_tokens"),
        q.score.as("quality_score"))
      .filter(col("n_tokens") >= 20 && col("quality_score") >= 0.1)
  }

  /** Near-dup-aware training-set selection — the COMPLETE dedup
    * pipeline [[trainingSetSelect]] only approximates: exact-dedup
    * survivors, MINUS non-survivor members of minhash near-dup clusters
    * (pairs → connected components → min-doc_id survivor, see
    * [[graft.dedup.Dedup.neardupComponents]]), then the same quality
    * threshold. Without the cluster stage two 98%-similar docs both
    * pass selection; here only the min-id member of each near-dup
    * cluster survives. One content-key shuffle + one broadcast
    * anti-join on the (tiny relative to the corpus) cluster-loser set
    * + narrow quality kernels. */
  def trainingSetSelectNeardup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val exactSurvivors = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val losers = graft.dedup.Dedup.neardupComponents(spark, dir)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val q = qualityExprs
    // no broadcast hint on losers — it is output-bound corpus-scale
    // state (see corpusPipelineFunnel's stage-3 note)
    docs.join(exactSurvivors, Seq("doc_id"), "left_semi")
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), q.nTok.as("n_tokens"),
        q.score.as("quality_score"))
      .filter(col("n_tokens") >= 20 && col("quality_score") >= 0.1)
  }

  /** Percentile-band length trim — drop both tails of the token-length
    * distribution (fragments below p05, runaway concatenations above
    * p95), the standard outlier-length filter before training. The
    * band is ONE exact-percentile aggregate broadcast back over the
    * corpus: an agg-to-one-row cross join, not a window — the corpus
    * never funnels through a single partition, and the second pass is
    * a narrow filter. (At 100 TB swap `percentile` for
    * `percentile_approx`, the `approx_value_percentiles` move; the
    * plan shape is unchanged.) Integer token counts interpolate
    * identically in both engines — same IEEE formula over the same
    * ints — which `value_percentiles` already pins. */
  def lengthTrimFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(WordCount.tokens(col("text"))).cast(LongType).as("n_tokens"))
    val band = docs.agg(
      percentile(col("n_tokens"), lit(0.05)).as("lo"),
      percentile(col("n_tokens"), lit(0.95)).as("hi"))
    docs.crossJoin(broadcast(band))
      .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
      .select(col("doc_id"), col("n_tokens"))
  }

  /** Per-language quota for [[corpusBalanceSample]]: at sf0.01 the
    * minority languages (~64-75 docs) come in under quota and survive
    * whole while `en` (~218) is capped — so the oracle exercises both
    * the under- and over-quota branches at the verify SF. */
  val QuotaPerLang = 100

  /** Deterministic per-language quota sample — the corpus-balancing
    * pass of a multilingual training pipeline: keep at most
    * [[QuotaPerLang]] docs per language, chosen by md5(text) order
    * (content-keyed, so the SAME docs are chosen on recomputation,
    * re-sharding, or corpus append — a random() or row-order sample is
    * neither reproducible nor stable under growth; same rationale as
    * [[trainEvalSplit]]'s content-hash split). `lang` has 5 values, so
    * ranking runs through the bounded [[graft.operators.BoundedTopK]]
    * Aggregator (k=100, O(1) reject on full buffer), not a
    * 5-partition window: each map partition forwards at most
    * 5·quota rows to the shuffle regardless of corpus size. */
  def corpusBalanceSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = new graft.operators.BoundedTopK[(String, Long)](QuotaPerLang,
      (a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)).toColumn
    Tables.load(spark, dir, "documents")
      .select(col("lang"), md5(col("text")).as("h"), col("doc_id"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(topk.name("keep"))
      .toDF("lang", "keep")
      .select(col("lang"), posexplode(col("keep")).as(Seq("pos", "t")))
      .select(col("lang"), col("t._2").as("doc_id"),
        (col("pos") + 1).cast(LongType).as("sample_rank"))
  }

  /** Token-repetition signal (the Gopher-rules quality family): per
    * doc, distinct-token fraction and its complement — high repetition
    * marks boilerplate/spam for filtering. Exact integer counts + one
    * IEEE division, so both engines agree bitwise; narrow, zero
    * shuffle. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = WordCount.tokens(col("text"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(toks).cast(LongType).as("n_tokens"),
        size(array_distinct(toks)).cast(LongType).as("n_distinct"))
      .withColumn("repetition",
        when(col("n_tokens") === 0, 0.0)
          .otherwise(round(lit(1.0) -
            col("n_distinct").cast(DoubleType) /
              col("n_tokens").cast(DoubleType), 6)))
  }

  /** PII scan + scrub — the redaction pass a training pipeline runs
    * before a document reaches a shard: count email/URL occurrences and
    * measure the text after replacing both with fixed placeholder
    * tokens. The corpus carries no PII by construction, so the query
    * AUGMENTS every third doc with a synthesized address+URL derived
    * from doc_id (the same synthesize-then-process move as
    * `multimodal_bmp_decode`) — the oracle replays the augmentation,
    * so the regex engines must agree on real matches, not just zeros.
    * Pure narrow projection; patterns are RE2-and-Java-compatible. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe = "https?://[^ ]+"

  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com or https://ex.org/p/"), col("doc_id").cast("string")))
      .otherwise(col("text"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), aug.as("t"))
      .select(
        col("doc_id"),
        regexp_count(col("t"), lit(emailRe)).cast(LongType).as("n_emails"),
        regexp_count(col("t"), lit(urlRe)).cast(LongType).as("n_urls"),
        length(regexp_replace(
          regexp_replace(col("t"), emailRe, "[EMAIL]"),
          urlRe, "[URL]")).cast(LongType).as("scrubbed_len"))
  }

  /** Deterministic 95/5 train/eval split on a CONTENT hash (60-bit md5
    * prefix mod 100) — the split survives recomputation, re-sharding,
    * and corpus growth, which a row-number or random split does not;
    * duplicate texts land on the same side by construction (no
    * train/eval leakage through copies). Reported as per-(lang, split)
    * counts. */
  val EvalPct = 5

  private def splitCol: Column =
    when(conv(substring(md5(col("text")), 1, 15), 16, 10)
      .cast(LongType) % 100 < lit(100 - EvalPct), "train").otherwise("eval")

  def trainEvalSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("lang"), splitCol.as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))

  /** Per-doc assignment of the LEAKAGE-SAFE split (see
    * [[trainEvalSplitNeardup]]) — exposed for the spec, which pins the
    * structural guarantee on the pair level. */
  private[graft] def neardupSplitAssign(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val comp = graft.dedup.Dedup.neardupComponents(spark, dir)
      .select(col("id").as("doc_id"), col("label"))
    docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("label"), col("doc_id")).as("cid"))
      .select(col("doc_id"), col("lang"),
        when(conv(substring(md5(col("cid").cast("string")), 1, 15), 16, 10)
          .cast(LongType) % 100 < lit(100 - EvalPct), "train")
          .otherwise("eval").as("split"))
  }

  /** LEAKAGE-SAFE train/eval split — [[trainEvalSplit]] hashes CONTENT,
    * which keeps exact duplicates on one side but lets NEAR-duplicates
    * straddle the boundary (an eval doc whose 0.9-Jaccard twin sits in
    * train is contamination `eval_decontamination` then has to catch
    * after the fact). This split assigns whole near-dup CLUSTERS: a
    * doc's side is the hash of its cluster id (component min label;
    * docs outside any cluster are their own), so no verified near-dup
    * pair can EVER cross the boundary — leakage is impossible by
    * construction rather than detected later. Cost beyond the pair
    * graph + CC labels the cluster family already memoizes: one narrow
    * hash pass and the same tiny census. The oracle replays the full
    * component resolution, the cluster-id hash, and the census. */
  def trainEvalSplitNeardup(spark: SparkSession, dir: String): DataFrame =
    neardupSplitAssign(spark, dir)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))

  /** Eval-set DECONTAMINATION — the audit every benchmark-holdout
    * pipeline runs: for each eval-split doc, the fraction of its
    * word-3-gram shingles that also occur anywhere in the train split.
    * One distinct pass over train shingles + one shingle-keyed
    * equi-join; reuses the session-persisted shingle frame. At 100 TB
    * the exact distinct-join stays correct but the train side is
    * usually compacted into a Bloom filter per shard first — same
    * join key, approximate membership; this is the exact form the
    * approximation is audited against. */
  def evalDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.dedup.Dedup.cachedDocShingles(spark, dir)
    val split = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), splitCol.as("split"))
    val tagged = sh.join(split, "doc_id")
    val trainShingles = tagged.filter(col("split") === "train")
      .select(explode(col("sh")).as("s")).distinct()
    val evalDocs = tagged.filter(col("split") === "eval" && size(col("sh")) > 0)
    val hits = evalDocs
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(trainShingles, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
    evalDocs.select(col("doc_id"), size(col("sh")).cast(LongType).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("c"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("c"), lit(0L)).cast(DoubleType)
          / col("n_shingles").cast(DoubleType), 6).as("contamination"))
  }

  /** The 100 TB FORM of [[evalDecontamination]]: the train side
    * compacted into a BLOOM FILTER instead of a distinct-join —
    * approximate membership, one-sided error (false positives only,
    * so measured contamination can only over-report, never miss).
    * Built with `DataFrameStatFunctions.bloomFilter` (a distributed
    * aggregate; executors fold their partitions into per-task filters
    * that merge by OR), broadcast back, and applied as a narrow
    * filter on the eval shingle stream — the shuffle-heavy
    * shingle-keyed equi-join disappears entirely.
    *
    * Honest scale note: ONE global filter is the right shape up to
    * ~10^10 train shingles (a 1%-fpp filter is ~1.2 GB — broadcast
    * range); past that the production layout hash-partitions BOTH
    * sides by shingle and builds per-shard filters of bounded size,
    * same mechanism shard-locally. The exact distinct-join form
    * ([[evalDecontamination]]) is the audit baseline this
    * approximation is pinned against (TextSpec: FP rate < 1%).
    *
    * No DuckDB oracle by the sketch rule — Bloom bit layouts are
    * engine-specific; the spec pins behavior instead. */
  def evalDecontaminationBloom(spark: SparkSession, dir: String,
                               fpp: Double = 0.001): DataFrame = {
    val sh = graft.dedup.Dedup.cachedDocShingles(spark, dir)
    val split = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), splitCol.as("split"))
    val tagged = sh.join(split, "doc_id")
    // the (count + bloomFilter aggregate) build is the expensive half
    // of the query; the train corpus is immutable per (session, dir,
    // fpp), so it is memoized per (session, dir, fpp) — every
    // repeat invocation (bench reps, steady-state production probing)
    // pays only the narrow eval-side probe
    val bloomB = SessionCaches.memo(spark, "text.bloom", (dir, fpp)) {
      val trainShingles = tagged.filter(col("split") === "train")
        .select(explode(col("sh")).as("s")).distinct()
      // sizing pass: expectedNumItems drives the bit-array width; the
      // distinct frame is persisted upstream so both passes are cheap
      val nTrain = math.max(trainShingles.count(), 1L)
      spark.sparkContext.broadcast(
        trainShingles.stat.bloomFilter("s", nTrain, fpp))
    }

    val evalDocs = tagged.filter(col("split") === "eval" && size(col("sh")) > 0)
    val hits = evalDocs
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .filter(graft.functions.BloomProbeExpr.bloom_probe(col("s"), bloomB))
      .groupBy("doc_id").agg(count(lit(1)).as("c"))
    evalDocs.select(col("doc_id"), size(col("sh")).cast(LongType).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("c"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("c"), lit(0L)).cast(DoubleType)
          / col("n_shingles").cast(DoubleType), 6).as("contamination"))
  }

  /** Session-scoped persisted (doc_id, w1, w2) bigram frame — the
    * shared input of `lm_doc_likelihood`'s training aggregate and
    * scoring join. */
  private[graft] def cachedDocBigrams(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.persisted(spark, "text.bigrams", dir) {
      import spark.implicits._
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          val ws = t.split(" ").filter(_.nonEmpty)
          ws.iterator.zip(ws.iterator.drop(1)).map { case (a, b) => (id, a, b) }
        }.toDF("doc_id", "w1", "w2")
    }

  /** Global top-20 bigrams by count (ties broken lexicographically).
    * Tokenization in a tight typed flatMap (higher-order Column lambdas
    * evaluate interpreted); `orderBy.limit` plans as
    * TakeOrderedAndProject — per-partition bounded top-k merged on one
    * reducer, NOT a global sort, so it survives an open vocabulary. */
  /** N-gram novelty — the "unseen n-gram rate" quality signal: per
    * doc, how many of its DISTINCT bigrams appear in no other document
    * (corpus document-frequency 1). High novelty marks original text;
    * near-zero marks boilerplate/template families — the cheap LM-free
    * proxy for the perplexity filter. Deliberately emitted as two
    * exact integers (numerator + denominator), never a ratio: the
    * division belongs to the consumer, and integers are what hash-
    * oracle. Shape: one (doc, bigram) distinct shuffle, one bigram-df
    * aggregate, one bigram-keyed join back, one doc aggregate — all
    * keys constant-width-hashable, nothing quadratic. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bg = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = t.split(" ").filter(_.nonEmpty)
        if (ws.length < 2) Iterator.empty
        else ws.iterator.zip(ws.iterator.drop(1)).map(p => (id, p._1 + " " + p._2))
      }.toDF("doc_id", "bigram").distinct()
    val dfreq = bg.groupBy("bigram").agg(count(lit(1)).as("dfreq"))
    bg.join(dfreq, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("dfreq") === 1, 1L).otherwise(0L)).as("n_unique"))
  }

  def ngramCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select("text").as[String]
      .flatMap { t =>
        val ws = t.split(" ").filter(_.nonEmpty)
        if (ws.length < 2) Iterator.empty
        else ws.iterator.zip(ws.iterator.drop(1)).map(p => p._1 + " " + p._2)
      }
      .toDF("bigram")
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)
  }

  /** Top-5 terms per language by tf-idf (idf = nlangs/df — a single
    * exact IEEE division, no ln, so both engines agree bitwise).
    * The per-lang ranking runs through the bounded
    * [[graft.operators.BoundedTopK]] Aggregator, not a window: `lang`
    * has 5 values, and the scored table is vocabulary-sized — the same
    * 5-partition-window trap as `topk_per_group`. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select(col("lang"), explode(WordCount.tokens(col("text"))).as("w"))
    val tf = toks.groupBy("lang", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.select("w", "lang").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val nl = tf.agg(countDistinct("lang").cast(DoubleType).as("nlangs"))
    val scored = tf.join(dfreq, "w").crossJoin(broadcast(nl))
      .select(col("lang"), col("w").as("term"), col("tf"),
        round(col("tf") * (col("nlangs") / col("df")), 6).as("tfidf"))
    val topk = new graft.operators.BoundedTopK[TermScore](5,
      (a, b) => a.tfidf > b.tfidf || (a.tfidf == b.tfidf && a.term < b.term))
      .toColumn
    scored.as[TermScore]
      .groupByKey(_.lang)
      .agg(topk.name("top"))
      .toDF("lang", "top")
      .select(col("lang"), explode(col("top")).as("t"))
      .select(col("lang"), col("t.term").as("term"), col("t.tf").as("tf"),
        col("t.tfidf").as("tfidf"))
  }

  /** Context-window chunking: split each doc's token stream into
    * 64-token chunks, one output row per chunk with its ordinal — the
    * prep step for fixed-window model input. Certifies the
    * `posexplode` generator (explode with ordinal); the chunk list is
    * built per row and exploded in place, so chunks of one doc never
    * leave their partition. */
  val ChunkTokens = 64

  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val ws = WordCount.tokens(col("text"))
    // Column `/` is double division; cast truncates = floor for the
    // non-negative size-1 (the WHERE size>0 guard guarantees that)
    val chunks = transform(
      sequence(lit(0), ((size(ws) - 1) / ChunkTokens).cast("int")),
      i => array_join(slice(ws, i * ChunkTokens + 1, lit(ChunkTokens)), " "))
    Tables.load(spark, dir, "documents")
      .filter(size(ws) > 0)
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("chunk"),
        size(WordCount.tokens(col("chunk"))).cast(LongType).as("n_tokens"))
  }

  /** Vocabulary-coverage audit — before committing to a tokenizer
    * vocab, measure what it misses: build the top-[[VocabSize]] token
    * vocabulary from the corpus itself (count desc, token asc — fully
    * deterministic through count ties), then score every document's
    * out-of-vocabulary token fraction (with multiplicity: a repeated
    * rare token hurts repeatedly, as it would in training).
    *
    * Plan shape: the global top-k vocabulary is a
    * TakeOrderedAndProject (bounded per-partition top-k, never a full
    * sort) whose k-row result BROADCASTS back over the token stream —
    * the same one-tiny-aggregate-broadcast-back pattern as
    * `length_trim_filter`; the only full shuffles are the token count
    * and the per-doc aggregate, both partial-aggregating. At 100 TB
    * the vocab is parameters (32-50k for BPE), still broadcast-size. */
  val VocabSize = 20

  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t").asc)
      .limit(VocabSize)
      .select(col("t").as("v"))
    toks.join(broadcast(vocab), toks("t") === vocab("v"), "left_outer")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_frac",
        round(col("n_oov").cast(DoubleType)
          / col("n_tokens").cast(DoubleType), 6))
  }

  /** Inverted index — THE canonical MapReduce job beside WordCount
    * (the reference framework's map/sort/reduce pipeline,
    * `job/WordCount.java:25-52`, is the textbook machinery for exactly
    * this): term → document-frequency + posting list. Spark shape: one
    * explode, one (term, doc) distinct, one term aggregate — every key
    * constant-width, partial aggregation map-side, a single term-keyed
    * shuffle at any corpus size. The posting list itself is emitted as
    * an md5 over the numerically-sorted doc ids (`sort_array` before
    * the join, `ORDER BY doc_id` in DuckDB) — the list is certified
    * content-exactly without shipping an array column through the
    * hash-compare (driver's row-sort cannot hash arrays). At 100 TB
    * postings for stop-like terms are huge; a production index shards
    * the posting list by (term, doc_id div B) — same aggregate,
    * composite key — while df stays this exact shape. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")))).as("postings_md5"))

  /** Bigram collocation strength — the PMI inputs for phrase detection
    * (word2vec-style "new_york" merging), emitted as EXACT INTEGERS:
    * PMI = ln(c_ab·N / (c_a·c_b)) is monotone in c_ab·N / (c_a·c_b),
    * so the numerator and denominator ship as two int64 columns and
    * the log belongs to the consumer (same no-libm contract as
    * ngram_novelty; integers are what hash-oracle). Top-[[PmiTopK]] by
    * bigram count (ties term-lexicographic) bounds the output; the
    * unigram side joins twice on constant-width token keys. N (total
    * token count) rides a broadcast scalar, not a shuffle. */
  val PmiTopK = 50

  def cooccurrencePmi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val bigrams = docs.flatMap { case (_, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      if (ws.length < 2) Iterator.empty
      else ws.iterator.zip(ws.iterator.drop(1))
    }.toDF("w1", "w2")
    val unigrams = docs.flatMap { case (_, t) =>
      t.split(" ").filter(_.nonEmpty)
    }.toDF("w")
    val uniCounts = unigrams.groupBy("w").agg(count(lit(1)).as("c"))
    // memoized per (session, corpus) — the scalar broadcasts as a
    // literal, and repeated invocations skip the extra corpus pass
    val n = SessionCaches.memo(spark, "text.unigramTotal", dir)(unigrams.count())
    bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .orderBy(col("c_ab").desc, col("w1").asc, col("w2").asc)
      .limit(PmiTopK)
      .join(uniCounts.withColumnRenamed("w", "w1")
        .withColumnRenamed("c", "c_a"), "w1")
      .join(uniCounts.withColumnRenamed("w", "w2")
        .withColumnRenamed("c", "c_b"), "w2")
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab") * lit(n)).as("pmi_num"),
        (col("c_a") * col("c_b")).as("pmi_den"))
  }

  /** Word-bigram language-model typicality score — the KenLM/CCNet
    * "perplexity filter" shape of web-corpus pipelines, libm-free:
    * instead of mean log-prob (ln is libm-specific in its last ulp,
    * so it cannot hash-oracle), each bigram scores the fixed-point
    * conditional probability q = (10⁶·c(w1,w2)) div c(w1,·) and a doc
    * reports the integer mean of its bigram scores — monotone in
    * arithmetic-mean likelihood, comparable across docs, and
    * hash-exact cross-engine because every step is int64 floor
    * division.
    *
    * Plan: one corpus pass explodes bigrams (the same typed-flatMap
    * kernel as `cooccurrence_pmi`), memoized and PERSISTED per
    * (session, corpus) because it feeds BOTH the LM-training
    * aggregate and the scoring join — without the persist the bigram
    * kernel and documents scan ran twice per invocation (round-8
    * review). ONE map-side-combining aggregate trains the LM, the
    * prefix marginal is a second aggregate over the MODEL
    * (vocab²-bounded, not corpus-scale), and scoring re-joins doc
    * bigrams to the model, so the only corpus-scale shuffle is the
    * per-doc mean.
    *
    * The model join's strategy is CARDINALITY-GATED, not pinned: a
    * synthetic corpus's bigram vocabulary is broadcast-sized, but a
    * real web corpus's is 10⁸–10⁹ rows — a pinned broadcast there is
    * a driver OOM (the defect class the round-8 sf10 probe caught on
    * the minhash candidate frame). At or under [[LmBroadcastMaxRows]]
    * model rows the join broadcasts; above, it falls back to
    * sort-merge. The gate's row count is memoized per (session,
    * corpus) — one aggregate over the persisted bigrams on first use,
    * free after. */
  def lmDocLikelihood(spark: SparkSession, dir: String): DataFrame =
    lmDocLikelihoodImpl(spark, dir, LmBroadcastMaxRows)

  /** Model rows above which the LM scoring join abandons the broadcast
    * hint: 10⁶ rows ≈ tens of MB of (w1, w2, q) build state — safely
    * inside driver and executor budgets; a web-scale bigram model
    * (10⁸+) lands far above it and merges instead. */
  val LmBroadcastMaxRows = 1000000L

  private[graft] def lmDocLikelihoodImpl(spark: SparkSession, dir: String,
                                         broadcastMaxRows: Long): DataFrame = {
    val docBigrams = cachedDocBigrams(spark, dir)
    val lm = docBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("nb"))
    val prefix = lm.groupBy("w1").agg(sum("nb").as("np"))
    val model = lm.join(prefix, "w1")
      .select(col("w1"), col("w2"),
        expr("(CAST(1000000 AS BIGINT) * nb) DIV np").as("q"))
    val modelRows = SessionCaches.memo(spark, "text.lmModelRows", dir)(model.count())
    val hinted =
      if (modelRows <= broadcastMaxRows) broadcast(model)
      else model.hint("merge")
    docBigrams.join(hinted, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("q").as("qs"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("qs DIV n_bigrams").as("lm_score"))
  }

  /** The end-to-end curation funnel — the whole pipeline's stages run
    * CUMULATIVELY with one audit row per stage (docs + total tokens
    * surviving): raw → exact dedup (min-id per text) → near-dup dedup
    * (minus MinHash cluster losers) → quality gates (the shared
    * token/score thresholds) → decontamination (train-split docs
    * sharing NO shingle with any eval-split doc). This is the report a
    * data-curation run publishes, and it certifies that the stages
    * COMPOSE — every membership rule is the same expression the
    * individual stage queries use, and the oracle recomputes all five
    * stages from scratch, so any drift between stages surfaces as a
    * count mismatch.
    *
    * Cost: rides the session-memoized shingle and component frames;
    * beyond those, one metrics pass over documents and five aggregates
    * over progressively-filtered views of the same frame (Spark reuses
    * the scan; each stage's predicate is a narrow filter).
    *
    * Corpus note: the synthetic vocabulary is ~50 words, so 3-gram
    * shingles collide across unrelated docs far more than in real
    * text — the decontamination stage is correspondingly savage (22 of
    * 400 surviving at sf0.01, 0 at sf1 where the mutated copy families
    * blanket the shingle space). The oracle agrees exactly; on a real
    * corpus the stage-5 drop is a few percent. */
  /** The funnel's per-doc inputs, shared VERBATIM by
    * `corpus_pipeline_funnel` (aggregate report) and
    * `corpus_rejection_ledger` (per-doc audit rows) so the two views
    * of the pipeline cannot drift. */
  private case class FunnelFrames(base: DataFrame, exactSurv: DataFrame,
                                  losers: DataFrame, contaminated: DataFrame)

  private def funnelFrames(spark: SparkSession, dir: String): FunnelFrames = {
    val docs = Tables.load(spark, dir, "documents")
    val q = qualityExprs
    val base = docs.select(col("doc_id"), q.nTok.as("n_tokens"),
      q.score.as("quality_score"), splitCol.as("split"))
    val exactSurv = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val losers = graft.dedup.Dedup.neardupComponents(spark, dir)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val sh = graft.dedup.Dedup.cachedDocShingles(spark, dir)
    val evalShingles = sh
      .join(docs.select(col("doc_id"), splitCol.as("split")), "doc_id")
      .filter(col("split") === "eval")
      .select(explode(col("sh")).as("s")).distinct()
    val contaminated = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(evalShingles, "s").select("doc_id").distinct()
    FunnelFrames(base, exactSurv, losers, contaminated)
  }

  def corpusPipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    val FunnelFrames(base, exactSurv, losers, contaminated) =
      funnelFrames(spark, dir)
    val s2 = base.join(exactSurv, Seq("doc_id"), "left_semi")
    // the losers frame is OUTPUT-BOUND corpus-scale state (at sf10 the
    // synthetic dup families make nearly every doc a cluster member) —
    // never force-broadcast it; the planner picks, and degrades to a
    // shuffle join gracefully (the sf10 candidate-broadcast OOM class)
    val s3 = s2.join(losers, Seq("doc_id"), "left_anti")
    val s4 = s3.filter(col("n_tokens") >= 20 && col("quality_score") >= 0.1)
    val s5 = s4.filter(col("split") === "train")
      .join(contaminated, Seq("doc_id"), "left_anti")

    def stat(stage: Long, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_tokens"), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_tokens"))
    stat(1, "raw", base)
      .unionAll(stat(2, "exact_dedup", s2))
      .unionAll(stat(3, "neardup_dedup", s3))
      .unionAll(stat(4, "quality", s4))
      .unionAll(stat(5, "decontaminated", s5))
  }

  /** Document-level lineage for the funnel — the audit table a
    * curation team joins against: one row PER DOCUMENT with the first
    * stage that removed it (`rejected_at`) and the specific rule
    * (`reason`), or `accepted` for docs that survive the whole
    * pipeline. Every membership rule is the SAME frame the funnel
    * aggregates ([[funnelFrames]]), so the ledger and the funnel
    * cannot disagree (the spec also cross-checks their counts).
    * `holdout`/`eval_split` marks eval-split docs: not rejected for
    * content, but absent from the training set — a ledger consumer
    * needs that distinction.
    *
    * Scale: three left joins on doc_id (exact survivors, cluster
    * losers, contaminated ids) over the corpus — all doc_id-keyed
    * constant-width shuffles; flags fold into one CASE projection. */
  def corpusRejectionLedger(spark: SparkSession, dir: String): DataFrame = {
    val FunnelFrames(base, exactSurv, losers, contaminated) =
      funnelFrames(spark, dir)
    val flagged = base
      .join(exactSurv.withColumn("ex", lit(true)), Seq("doc_id"), "left")
      .join(losers.withColumn("loser", lit(true)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("cont", lit(true)), Seq("doc_id"), "left")
    flagged.select(
      col("doc_id"),
      when(col("ex").isNull, lit("exact_dedup"))
        .when(col("loser"), lit("neardup_dedup"))
        .when(col("n_tokens") < 20 || col("quality_score") < 0.1, lit("quality"))
        .when(col("split") =!= "train", lit("holdout"))
        .when(col("cont"), lit("decontamination"))
        .otherwise(lit("accepted")).as("rejected_at"),
      when(col("ex").isNull, lit("duplicate_text"))
        .when(col("loser"), lit("neardup_cluster_loser"))
        .when(col("n_tokens") < 20, lit("too_short"))
        .when(col("quality_score") < 0.1, lit("low_quality_score"))
        .when(col("split") =!= "train", lit("eval_split"))
        .when(col("cont"), lit("eval_shingle_overlap"))
        .otherwise(lit("accepted")).as("reason"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_pipeline_funnel" -> (corpusPipelineFunnel _),
    "corpus_rejection_ledger" -> (corpusRejectionLedger _),
    "lm_doc_likelihood" -> (lmDocLikelihood _),
    "doc_chunks" -> (docChunks _),
    "ngram_counts" -> (ngramCounts _),
    "ngram_novelty" -> (ngramNovelty _),
    "tfidf_top_terms" -> (tfidfTopTerms _),
    "training_set_select" -> (trainingSetSelect _),
    "training_set_select_neardup" -> (trainingSetSelectNeardup _),
    "text_stats" -> (textStats _),
    "text_quality" -> (textQuality _),
    "gopher_quality_gates" -> (gopherQualityGates _),
    "quality_classifier_score" -> (qualityClassifierScore _),
    "text_langid" -> (textLangid _),
    "text_pii_scrub" -> (textPiiScrub _),
    "text_repetition" -> (textRepetition _),
    "corpus_balance_sample" -> (corpusBalanceSample _),
    "length_trim_filter" -> (lengthTrimFilter _),
    "train_eval_split" -> (trainEvalSplit _),
    "train_eval_split_neardup" -> (trainEvalSplitNeardup _),
    "eval_decontamination" -> (evalDecontamination _),
    // no-oracle by the sketch rule (Bloom layouts are engine-specific);
    // declared anyway so Verify/Bench/PlanAudit exercise the actual
    // 100 TB shape, not just the sf0.1 spec test. TextSpec pins its
    // FP rate < 1% against the exact form.
    "eval_decontamination_bloom" ->
      ((s: SparkSession, d: String) => evalDecontaminationBloom(s, d)),
    "token_count" -> (tokenCount _),
    "vocab_coverage" -> (vocabCoverage _),
    "doc_fingerprint" -> (docFingerprint _),
    "winnow_fingerprints" -> (winnowFingerprints _),
    "inverted_index" -> (invertedIndex _),
    "cooccurrence_pmi" -> (cooccurrencePmi _))

  private val markersSql = langMarkers.map { case (lang, ms) =>
    lang -> ms.map(m => s"'$m'").mkString("(", ",", ")")
  }.toMap

  // ---- shared oracle fragments (ONE copy of each tunable formula so
  // an adjustment cannot silently diverge the oracles, review round 3)

  /** The per-doc quality metric columns (SQL twin of [[qualityExprs]]'
    * inputs), selected FROM documents. */
  private val qualityMetricsSql =
    """len(list_filter(string_split(text,' '), w -> w <> '')) AS n_tokens,
      |    len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
      |    len(list_filter(string_split(text,' '),
      |        w -> w IN ('the','a','and','of','to','in','is','on','for','with'))) AS n_stopwords,
      |    length(text) AS n_chars""".stripMargin

  /** The 0.5/0.3/0.2 composite score over those metric columns. */
  private val qualityScoreSql =
    """round(0.5 * (CASE WHEN n_tokens = 0 THEN 0.0
      |               ELSE CAST(n_stopwords AS DOUBLE)/n_tokens END)
      |      + 0.3 * (CAST(least(n_tokens, 100) AS DOUBLE)/100.0)
      |      - 0.2 * (CASE WHEN n_chars = 0 THEN 0.0
      |               ELSE CAST(n_punct AS DOUBLE)/n_chars END), 6)""".stripMargin

  /** The content-hash train/eval split (SQL twin of [[splitCol]]). */
  private val splitCaseSql =
    s"""CASE WHEN CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
       |          % 100 < ${100 - EvalPct}
       |     THEN 'train' ELSE 'eval' END""".stripMargin

  /** CTE prefix shared by the funnel and ledger oracles — ends at `b`,
    * the per-doc flag frame (the SQL twin of [[funnelFrames]]).
    * componentCtes opens WITH RECURSIVE and already defines `sh` (the
    * shingle frame) and `comp` (near-dup components); both reused. */
  private lazy val funnelFlagCtes =
    s"""${graft.dedup.Dedup.componentCtes},
       |spl AS (SELECT doc_id, $splitCaseSql AS split FROM documents),
       |evs AS (SELECT DISTINCT s FROM (SELECT doc_id, unnest(sh) AS s FROM sh) t
       |        JOIN spl USING (doc_id) WHERE spl.split = 'eval'),
       |contam AS (SELECT DISTINCT t.doc_id
       |           FROM (SELECT doc_id, unnest(sh) AS s FROM sh) t JOIN evs USING (s)),
       |m AS (SELECT doc_id,
       |    $qualityMetricsSql
       |  FROM documents),
       |mq AS (SELECT doc_id, n_tokens,
       |    $qualityScoreSql AS quality_score
       |  FROM m),
       |b AS (SELECT d.doc_id, mq.n_tokens, mq.quality_score, spl.split,
       |             d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text) AS ex,
       |             d.doc_id IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id) AS loser,
       |             d.doc_id IN (SELECT doc_id FROM contam) AS cont
       |      FROM documents d JOIN mq USING (doc_id) JOIN spl USING (doc_id))""".stripMargin

  val oracles: Map[String, String] = Map(
    "corpus_rejection_ledger" ->
      s"""$funnelFlagCtes
         |SELECT doc_id,
         |  CASE WHEN NOT ex THEN 'exact_dedup'
         |       WHEN loser THEN 'neardup_dedup'
         |       WHEN n_tokens < 20 OR quality_score < 0.1 THEN 'quality'
         |       WHEN split <> 'train' THEN 'holdout'
         |       WHEN cont THEN 'decontamination'
         |       ELSE 'accepted' END AS rejected_at,
         |  CASE WHEN NOT ex THEN 'duplicate_text'
         |       WHEN loser THEN 'neardup_cluster_loser'
         |       WHEN n_tokens < 20 THEN 'too_short'
         |       WHEN quality_score < 0.1 THEN 'low_quality_score'
         |       WHEN split <> 'train' THEN 'eval_split'
         |       WHEN cont THEN 'eval_shingle_overlap'
         |       ELSE 'accepted' END AS reason
         |FROM b""".stripMargin,
    "corpus_pipeline_funnel" ->
      s"""$funnelFlagCtes
         |SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS stage_name, count(*) AS n_docs,
         |       COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) AS n_tokens FROM b
         |UNION ALL
         |SELECT 2, 'exact_dedup', count(*), COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0)
         |FROM b WHERE ex
         |UNION ALL
         |SELECT 3, 'neardup_dedup', count(*), COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0)
         |FROM b WHERE ex AND NOT loser
         |UNION ALL
         |SELECT 4, 'quality', count(*), COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0)
         |FROM b WHERE ex AND NOT loser AND n_tokens >= 20 AND quality_score >= 0.1
         |UNION ALL
         |SELECT 5, 'decontaminated', count(*), COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0)
         |FROM b WHERE ex AND NOT loser AND n_tokens >= 20 AND quality_score >= 0.1
         |  AND split = 'train' AND NOT cont""".stripMargin,
    "lm_doc_likelihood" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ts
        |  FROM documents),
        |bg AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |       FROM toks, LATERAL unnest(generate_series(1, len(ts)-1)) t(i)
        |       WHERE len(ts) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY w1, w2),
        |cp AS (SELECT w1, CAST(SUM(nb) AS BIGINT) AS np FROM cb GROUP BY w1),
        |q AS (SELECT w1, w2, (1000000 * nb) // np AS q
        |      FROM cb JOIN cp USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(SUM(q) // count(*) AS BIGINT) AS lm_score
        |FROM bg JOIN q USING (w1, w2)
        |GROUP BY doc_id""".stripMargin,
    "length_trim_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text,' '), w -> w <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |q AS (SELECT quantile_cont(n_tokens, 0.05) AS lo,
        |             quantile_cont(n_tokens, 0.95) AS hi FROM t)
        |SELECT doc_id, n_tokens FROM t, q
        |WHERE n_tokens >= lo AND n_tokens <= hi""".stripMargin,
    "corpus_balance_sample" ->
      s"""SELECT lang, doc_id, rn AS sample_rank FROM (
         |  SELECT lang, doc_id,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY md5(text), doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= $QuotaPerLang""".stripMargin,
    "doc_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, i,
         |         array_to_string(ws[(i-1)*$ChunkTokens+1 : least(i*$ChunkTokens, len(ws))], ' ') AS chunk
         |  FROM t, LATERAL unnest(generate_series(1, (len(ws)-1)//$ChunkTokens + 1)) u(i)
         |  WHERE len(ws) > 0)
         |SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx, chunk,
         |       CAST(len(list_filter(string_split(chunk,' '), w -> w <> '')) AS BIGINT) AS n_tokens
         |FROM c""".stripMargin,
    "ngram_counts" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM toks, LATERAL unnest(generate_series(1, len(ws)-1)) t(i)
        |  WHERE len(ws) >= 2)
        |SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS bigram
        |  FROM toks, LATERAL unnest(generate_series(1, len(ws)-1)) t(i)
        |  WHERE len(ws) >= 2),
        |df AS (SELECT bigram, count(*) AS dfreq FROM bg GROUP BY bigram)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |       CAST(SUM(CASE WHEN df.dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        |FROM bg b JOIN df ON df.bigram = b.bigram
        |GROUP BY b.doc_id""".stripMargin,
    "tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(string_split(text,' '), w -> w <> '')) AS w
        |  FROM documents),
        |tf AS (SELECT lang, w, count(*) AS tf FROM toks GROUP BY lang, w),
        |df AS (SELECT w AS dw, count(*) AS df
        |       FROM (SELECT DISTINCT lang, w FROM tf) GROUP BY w),
        |nl AS (SELECT count(DISTINCT lang) AS nlangs FROM tf),
        |scored AS (
        |  SELECT lang, w, tf, round(tf * (CAST(nlangs AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN df ON w = dw CROSS JOIN nl)
        |SELECT lang, w AS term, CAST(tf AS BIGINT) AS tf, tfidf FROM (
        |  SELECT lang, w, tf, tfidf,
        |         row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, w) AS rn
        |  FROM scored) t
        |WHERE rn <= 5""".stripMargin,
    "training_set_select" ->
      s"""WITH m AS (
         |  SELECT doc_id, lang,
         |    $qualityMetricsSql
         |  FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)),
         |q AS (
         |  SELECT doc_id, lang, n_tokens,
         |    $qualityScoreSql AS quality_score
         |  FROM m)
         |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score
         |FROM q WHERE n_tokens >= 20 AND quality_score >= 0.1""".stripMargin,
    // the recursive-CTE component resolution (Dedup.componentCtes)
    // prepends comp(doc_id, cluster_id); the selection then excludes
    // cluster members whose id is not the cluster minimum
    "training_set_select_neardup" ->
      s"""${graft.dedup.Dedup.componentCtes},
         |m AS (
         |  SELECT doc_id, lang,
         |    $qualityMetricsSql
         |  FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
         |    AND doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)),
         |mq AS (
         |  SELECT doc_id, lang, n_tokens,
         |    $qualityScoreSql AS quality_score
         |  FROM m)
         |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score
         |FROM mq WHERE n_tokens >= 20 AND quality_score >= 0.1""".stripMargin,
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(n_chars) AS DOUBLE)/count(*) AS avg_chars,
        |       count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang""".stripMargin,
    // the score tree is spelled with the same left association as the
    // Spark column expression — bit-identical doubles at the threshold
    "quality_classifier_score" -> {
      val (w0, ws, wl, wr, tau) = classifierWeights
      val stop = stopwords.map(s => s"'$s'").mkString("(", ",", ")")
      s"""WITH f AS (
         |  SELECT source,
         |    CAST(len(list_filter(string_split(text,' '), w -> w <> '')) AS BIGINT) AS l,
         |    CAST(len(replace(text,' ','')) AS BIGINT) AS c,
         |    CAST(len(list_filter(string_split(text,' '), w -> w IN $stop)) AS BIGINT) AS s,
         |    CAST(len(list_distinct(list_filter(string_split(text,' '), w -> w <> ''))) AS BIGINT) AS d
         |  FROM documents),
         |sc AS (
         |  SELECT source,
         |         $w0 + $ws * (CAST(s AS DOUBLE) / l)
         |             + $wl * (CAST(c AS DOUBLE) / l)
         |             + $wr * (CAST(d AS DOUBLE) / l) AS score
         |  FROM f WHERE l > 0)
         |SELECT source, count(*) AS n_docs,
         |       CAST(SUM(CASE WHEN score >= $tau THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
         |       round(min(score), 6) AS min_score,
         |       round(max(score), 6) AS max_score
         |FROM sc GROUP BY source""".stripMargin
    },
    // integer cross-multiplied gates; CASE arms cast to BIGINT to match
    // Spark's long gate columns
    "gopher_quality_gates" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split(text,' '), w -> w <> '')) AS n,
         |    length(replace(text, ' ', '')) AS c,
         |    len(list_distinct(list_filter(string_split(text,' '), w -> w <> ''))) AS nd,
         |    len(list_intersect(
         |      ['the','a','and','of','to','in','is','on','for','with'],
         |      string_split(text,' '))) AS ns
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN n >= 50 AND n <= 100000 THEN 1::BIGINT ELSE 0::BIGINT END AS g_len,
         |  CASE WHEN n * 3 <= c AND c <= n * 10 THEN 1::BIGINT ELSE 0::BIGINT END AS g_wordlen,
         |  CASE WHEN nd * 10 >= n * 3 THEN 1::BIGINT ELSE 0::BIGINT END AS g_repeat,
         |  CASE WHEN ns >= 2 THEN 1::BIGINT ELSE 0::BIGINT END AS g_stop,
         |  (CASE WHEN n >= 50 AND n <= 100000 THEN 1::BIGINT ELSE 0::BIGINT END) *
         |  (CASE WHEN n * 3 <= c AND c <= n * 10 THEN 1::BIGINT ELSE 0::BIGINT END) *
         |  (CASE WHEN nd * 10 >= n * 3 THEN 1::BIGINT ELSE 0::BIGINT END) *
         |  (CASE WHEN ns >= 2 THEN 1::BIGINT ELSE 0::BIGINT END) AS pass
         |FROM m""".stripMargin,
    "text_quality" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    $qualityMetricsSql,
         |    len(regexp_extract_all(text, '[0-9]')) AS n_digits
         |  FROM documents)
         |SELECT doc_id, n_tokens, n_punct, n_digits, n_stopwords,
         |  round(CASE WHEN n_tokens = 0 THEN 0.0
         |             ELSE CAST(n_stopwords AS DOUBLE)/n_tokens END, 6) AS stop_ratio,
         |  $qualityScoreSql AS quality_score
         |FROM m""".stripMargin,
    "text_langid" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang AS tagged_lang,
         |    len(list_filter(string_split(text,' '), w -> w IN ${markersSql("de")})) AS s_de,
         |    len(list_filter(string_split(text,' '), w -> w IN ${markersSql("en")})) AS s_en,
         |    len(list_filter(string_split(text,' '), w -> w IN ${markersSql("es")})) AS s_es,
         |    len(list_filter(string_split(text,' '), w -> w IN ${markersSql("fr")})) AS s_fr,
         |    len(list_filter(string_split(text,' '), w -> w IN ${markersSql("zh")})) AS s_zh
         |  FROM documents)
         |SELECT doc_id, tagged_lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
         |       WHEN s_zh >= s_de AND s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_fr THEN 'zh'
         |       ELSE 'und' END AS predicted_lang
         |FROM s""".stripMargin,
    // Outer CAST(... AS BIGINT): DuckDB SUM(BIGINT) -> HUGEINT, which
    // the driver's pandas fetch turns into float64 and the hash compare
    // then fails against Spark's int64 (round-1 mismatch).
    "token_count" ->
      s"""SELECT lang,
         |  CAST(SUM(len(list_filter(string_split(text,' '), w -> w <> ''))) AS BIGINT) AS n_ws_tokens,
         |  CAST(SUM(len(regexp_extract_all(text, '$bpeRegex'))) AS BIGINT) AS n_bpe_tokens,
         |  count(*) AS n_docs
         |FROM documents GROUP BY lang""".stripMargin,
    // winnowing replay: same md5-mod-p gram hash as the minhash
    // pipeline; forward-looking window min; distinct selected values
    "winnow_fingerprints" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, i, len(ts) - 2 AS n,
         |         CAST(('0x' || substring(md5(ts[i] || '|' || ts[i+1] || '|' || ts[i+2]), 1, 15)) AS BIGINT)
         |           % ${graft.dedup.Dedup.P} AS h
         |  FROM toks, LATERAL unnest(generate_series(1, len(ts) - 2)) t(i)
         |  WHERE len(ts) >= 3),
         |mins AS (
         |  SELECT doc_id, n, i,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY i
         |                      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS m
         |  FROM grams)
         |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_grams,
         |       CAST(count(DISTINCT m) AS BIGINT) AS n_selected
         |FROM mins
         |WHERE i <= greatest(1, n - ${WinnowW - 1})
         |GROUP BY doc_id""".stripMargin,
    "vocab_coverage" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
         |  FROM documents),
         |vocab AS (SELECT t AS v FROM (
         |  SELECT t, count(*) AS c FROM toks
         |  GROUP BY t ORDER BY c DESC, t LIMIT $VocabSize)),
         |j AS (SELECT doc_id, toks.t, v FROM toks LEFT JOIN vocab ON toks.t = v)
         |SELECT doc_id, count(*) AS n_tokens,
         |       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       round(CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 6) AS oov_frac
         |FROM j GROUP BY doc_id""".stripMargin,
    "text_repetition" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), w -> w <> '')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(list_filter(string_split(text,' '), w -> w <> ''))) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(list_filter(string_split(text,' '), w -> w <> '')) = 0 THEN 0.0
        |       ELSE round(1.0 -
        |         CAST(len(list_distinct(list_filter(string_split(text,' '), w -> w <> ''))) AS DOUBLE) /
        |         len(list_filter(string_split(text,' '), w -> w <> '')), 6)
        |  END AS repetition
        |FROM documents""".stripMargin,
    "train_eval_split" ->
      s"""SELECT lang,
         |       $splitCaseSql AS split,
         |       count(*) AS n_docs
         |FROM documents GROUP BY 1, 2""".stripMargin,
    // the full component resolution replayed, then the cluster-id hash
    // (docs outside any cluster are their own cluster)
    "train_eval_split_neardup" ->
      s"""${graft.dedup.Dedup.componentCtes},
         |cl AS (SELECT d.lang, coalesce(c.cluster_id, d.doc_id) AS cid
         |       FROM documents d LEFT JOIN comp c USING (doc_id))
         |SELECT lang,
         |       CASE WHEN CAST(('0x' || substring(md5(CAST(cid AS VARCHAR)), 1, 15)) AS BIGINT)
         |                 % 100 < ${100 - EvalPct}
         |            THEN 'train' ELSE 'eval' END AS split,
         |       count(*) AS n_docs
         |FROM cl GROUP BY 1, 2""".stripMargin,
    "eval_decontamination" ->
      s"""WITH sh AS (${graft.dedup.Dedup.docShinglesSql}),
         |sp AS (SELECT doc_id, $splitCaseSql AS split
         |       FROM documents),
         |tr AS (SELECT DISTINCT s FROM (
         |         SELECT unnest(sh.sh) AS s
         |         FROM sh JOIN sp USING (doc_id) WHERE split = 'train')),
         |ev AS (SELECT sh.doc_id, sh.sh
         |       FROM sh JOIN sp USING (doc_id)
         |       WHERE split = 'eval' AND len(sh.sh) > 0),
         |hits AS (SELECT doc_id, count(*) AS c
         |         FROM (SELECT doc_id, unnest(sh) AS s FROM ev) e
         |         JOIN tr USING (s) GROUP BY doc_id)
         |SELECT ev.doc_id,
         |       CAST(len(ev.sh) AS BIGINT) AS n_shingles,
         |       COALESCE(c, 0) AS n_contaminated,
         |       round(CAST(COALESCE(c, 0) AS DOUBLE) / len(ev.sh), 6) AS contamination
         |FROM ev LEFT JOIN hits USING (doc_id)""".stripMargin,
    // regexp_replace needs the 'g' flag in DuckDB (replace-all is
    // Spark's default); len(regexp_extract_all) is the regexp_count twin
    "text_pii_scrub" ->
      s"""WITH a AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0
         |              THEN text || ' contact u' || doc_id ||
         |                   '@example.com or https://ex.org/p/' || doc_id
         |              ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$urlRe')) AS BIGINT) AS n_urls,
         |  CAST(length(regexp_replace(
         |         regexp_replace(t, '$emailRe', '[EMAIL]', 'g'),
         |         '$urlRe', '[URL]', 'g')) AS BIGINT) AS scrubbed_len
         |FROM a""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS md5_fp,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
        |    (a, b) -> (a * 31 + b) % 2147483647) AS roll_fp
        |FROM documents""".stripMargin,
    "inverted_index" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(string_split(text,' '), w -> w <> '')) AS t
        |    FROM documents))
        |SELECT t AS term, count(*) AS df,
        |       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS postings_md5
        |FROM toks GROUP BY t""".stripMargin,
    "cooccurrence_pmi" ->
      s"""WITH ws AS (
         |  SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
         |  FROM documents),
         |uni AS (SELECT unnest(ws) AS w FROM ws),
         |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
         |n AS (SELECT count(*) AS n FROM uni),
         |bg AS (
         |  SELECT ws[i] AS w1, ws[i+1] AS w2
         |  FROM ws, unnest(range(1, len(ws))) AS r(i)
         |  WHERE len(ws) >= 2),
         |top AS (
         |  SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2
         |  ORDER BY c_ab DESC, w1 ASC, w2 ASC LIMIT $PmiTopK)
         |SELECT t.w1, t.w2, t.c_ab, a.c AS c_a, b.c AS c_b,
         |       t.c_ab * n.n AS pmi_num, a.c * b.c AS pmi_den
         |FROM top t
         |JOIN uc a ON a.w = t.w1
         |JOIN uc b ON b.w = t.w2
         |CROSS JOIN n""".stripMargin)
}

/** One (lang, term) tf-idf row — payload of the tf-idf
  * [[graft.operators.BoundedTopK]]. */
case class TermScore(lang: String, term: String, tf: Long, tfidf: Double)
