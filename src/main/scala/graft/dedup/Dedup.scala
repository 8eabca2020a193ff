package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.{Fixpoint, SessionCaches, Tables}
import graft.operators.{ConnectedComponents, WordCount}
import graft.similarity.Similarity

/** Deduplication operators for a training-data pipeline, smallest to
  * largest reach: exact (hash group-by), SimHash (per-doc signature),
  * MinHash+LSH (banded candidate generation + exact verify), exact
  * n-gram Jaccard (the quadratic baseline LSH approximates), and
  * embedding-cosine near-dup.
  *
  * Scale design:
  *  - exact dedup is one shuffle on the content key;
  *  - SimHash/MinHash signatures are narrow per-doc computations (rows
  *    shuffled once per doc for the signature aggregate, never per
  *    token);
  *  - LSH candidate generation joins on (band, signature) buckets — the
  *    join explodes only within buckets, which near-dup clusters keep
  *    tiny; a pathological hot bucket would surface in AQE skew stats;
  *  - the exact-Jaccard verify runs only on LSH candidates;
  *  - `ngram_jaccard` (the full-quadratic truth) exists as the oracle
  *    baseline: its shared-shingle self-join is O(Σ per-shingle count²)
  *    and is the query you do NOT run at 100 TB — that's minhash's job.
  *
  * Cross-engine determinism: all hashing is md5-based (identical hex in
  * JVM and DuckDB); MinHash permutations are (a_i·h + b_i) mod 2^31-1
  * over a 60-bit md5 prefix reduced mod p, all in 64-bit signed range in
  * both engines; Jaccard/cosine outputs round to 6 dp.
  */
object Dedup {

  // ---- shared shingling (word 3-grams over single-space tokens) ----

  /** Shingle width in tokens, and the separator joining a shingle's
    * tokens. Every shingler and the MinHash artifact key read these. */
  val ShingleWidth = 3
  val ShingleSep = "|"

  /** Distinct shingles of a text column as a Column expression, for
    * tests and tiny inputs: Catalyst evaluates the lambdas interpreted,
    * so the queries shingle with [[shingleSet]]. */
  def shingles(c: Column): Column = {
    val ws = WordCount.tokens(c)
    array_distinct(
      when(size(ws) < ShingleWidth, typedlit(Seq.empty[String]))
        .otherwise(transform(
          sequence(lit(0), size(ws) - ShingleWidth),
          i => concat_ws(ShingleSep,
            (1 to ShingleWidth).map(k => element_at(ws, i + k)): _*))))
  }

  /** The distinct shingles of `text` in first-seen order, like
    * array_distinct (parity with [[shingles]] and the DuckDB oracles
    * is pinned by DedupSpec). */
  def shingleSet(text: String): Array[String] =
    WordCount.grams(WordCount.words(text), ShingleWidth, ShingleSep).distinct.toArray

  /** (doc_id, sh: array<string>) over a (doc_id, text, …) frame. */
  def shinglesOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, shingleSet(text)) }
      .toDF("doc_id", "sh")
  }

  /** [[shinglesOf]] the corpus. */
  def docShingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.load(spark, dir, "documents"))

  /** Session-scoped persisted shingle frame, memoized per (session,
    * dir): the shingle scan feeds minhash's signature pass + both
    * verify-join sides and ngram_jaccard's three consumers. A
    * per-CALL `.persist()` would leak one cached RDD
    * per invocation for the session lifetime; the memo bounds the
    * cache at one entry per corpus and makes repeated queries reuse
    * it. */
  def cachedDocShingles(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.persisted(spark, "dedup.shingles", dir)(docShingles(spark, dir))

  private val shinglesSql =
    """list_distinct(CASE WHEN len(ws) < 3 THEN []
      |  ELSE list_transform(generate_series(1, len(ws)-2),
      |                      i -> ws[i] || '|' || ws[i+1] || '|' || ws[i+2]) END)""".stripMargin

  private[graft] val docShinglesSql =
    s"""SELECT doc_id, $shinglesSql AS sh
       |FROM (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
       |      FROM documents)""".stripMargin

  // ---- exact dedup ----

  /** Exact dedup on content: keep the min-doc_id row per distinct text,
    * report survivors per language. `min(struct(doc_id, lang))` orders
    * by doc_id first (unique → deterministic) and carries the
    * survivor's lang in one partial-aggregating pass — no window sort,
    * map-side combine collapses duplicate texts before the shuffle.
    * (At 100 TB you'd group on sha2(text) to shrink the shuffle key and
    * only break digest collisions with a full compare.) */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy("text")
      .agg(min(struct(col("doc_id"), col("lang"))).as("survivor"))
      .groupBy(col("survivor.lang").as("lang"))
      .agg(count(lit(1)).as("n_survivors"))

  /** The 100 TB form of exact dedup the [[dedupExact]] Scaladoc
    * promises: group on sha2(text, 256) so the shuffle key is a fixed
    * 64-hex digest instead of the full document body — at scale that
    * turns a text-sized exchange into a constant-width one. (A digest
    * collision would merge two distinct texts; production breaks ties
    * with a full compare inside each digest group — astronomically
    * rare, and absent from the corpus by construction since the oracle
    * groups the same way.) Certified against DuckDB's sha256. */
  def dedupExactSha(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("digest"))
      .groupBy("digest")
      .agg(min(struct(col("doc_id"), col("lang"))).as("survivor"))
      .groupBy(col("survivor.lang").as("lang"))
      .agg(count(lit(1)).as("n_survivors"))

  /** Incremental-ingest dedup — the steady-state form of exact dedup
    * once a corpus exists: a NEW batch (odd doc_ids here; in
    * production, today's crawl) is deduped within itself (min-doc_id
    * survivor per text, one content-key shuffle with map-side
    * combine), then anti-joined against the EXISTING corpus's distinct
    * texts (even doc_ids) so re-crawled content never re-enters. Both
    * join sides are pre-reduced to distinct keys before the exchange;
    * at 100 TB the join key is the sha2 digest (the
    * [[dedupExactSha]] move) and the corpus side is a bucketed digest
    * table, making the daily anti-join co-located and shuffle-free on
    * the corpus side. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .groupBy("text").agg(min("doc_id").as("doc_id"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
      .select("text").distinct()
    batch.join(corpus, Seq("text"), "left_anti")
      .select("doc_id")
  }

  /** Normalization-then-dedup — the C4-style cleaning move: lowercase,
    * strip sentence punctuation, collapse whitespace runs, THEN group;
    * catches trivially-reformatted copies exact dedup misses while
    * staying one content-key shuffle. Same survivor election and
    * per-lang report shape as [[dedupExact]]. */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[.,!?;:]", ""), " +", " "))
    Tables.load(spark, dir, "documents")
      .groupBy(norm.as("norm"))
      .agg(min(struct(col("doc_id"), col("lang"))).as("survivor"))
      .groupBy(col("survivor.lang").as("lang"))
      .agg(count(lit(1)).as("n_survivors"))
  }

  /** Hot-block cap for [[fuzzyMatchPrefix]] — same role as [[MaxBucket]]
    * for LSH: a block of m docs expands to m·(m−1)/2 pairs locally, and
    * a real crawl puts millions of docs behind one boilerplate opening
    * ("<!DOCTYPE ht…"), which would go quadratic inside a single task.
    * Blocks over the cap are dropped from candidate generation. 1000
    * ids = ≤ ~500 k local pairs. The cap is part of the certified
    * semantics: the DuckDB oracle replays it in a block-size CTE, so
    * the query hash-matches at every SF — including the r7 sf1 corpus,
    * whose 1650-doc boilerplate block fires the cap for real (at
    * sf≤0.1 blocks hold ~1.5 docs and the cap is dormant). */
  val MaxBlock = 1000

  /** Blocked fuzzy matching — the dedup assist for NEAR-IDENTICAL
    * prefixes (OCR noise, whitespace drift) where shingle Jaccard is
    * overkill: block on the first 8 chars (the standard record-linkage
    * blocking move; only same-block pairs are compared), then exact
    * Levenshtein ≤ 5 over the 40-char prefixes.
    *
    * Round-3 verdict fix: the blocks self-join is replaced by the
    * group-collect + size-cap + local-expand idiom from
    * [[minhashNeardup]], so the per-block quadratic is explicit,
    * bounded by [[MaxBlock]], and local to its bucket. The pair
    * expansion itself is pure SQL higher-order functions (sort_array
    * + indexed transform + slice — d1 < d2 falls out of the sort), so
    * the whole candidate path stays inside codegen with no UDF. */
  def fuzzyMatchPrefix(spark: SparkSession, dir: String): DataFrame =
    fuzzyMatchPrefixOf(Tables.load(spark, dir, "documents"))

  /** [[fuzzyMatchPrefix]] over an explicit (doc_id, text, …) frame —
    * split out so DedupSpec can feed a synthetic hot block and watch
    * the cap drop it. */
  def fuzzyMatchPrefixOf(documents: DataFrame): DataFrame = {
    val keyed = documents
      .select(substring(col("text"), 1, 8).as("blk"),
        struct(col("doc_id"), substring(col("text"), 1, 40).as("pfx")).as("rec"))
    // pre-cap BEFORE collect_list: a post-collect size
    // filter still buffered the entire over-cap block into one
    // aggregation row before discarding it — a million-doc boilerplate
    // block is a single-task OOM even without pair expansion. Counting
    // first means over-cap blocks never materialize an array at all;
    // the count agg partial-aggregates map-side, and the join + final
    // groupBy share one blk shuffle.
    val inCap = keyed.groupBy("blk").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= MaxBlock)
      .select("blk")
    val blocks = keyed.join(inCap, "blk")
      .groupBy("blk")
      .agg(sort_array(collect_list(col("rec"))).as("recs"))
    // all (i, j>i) pairs of the doc_id-sorted recs array, built with
    // higher-order functions: for element i, pair it with the slice
    // strictly after i (slice is 1-based, hence i+2)
    val pairs = flatten(transform(col("recs"), (a, i) =>
      transform(slice(col("recs"), i + lit(2), size(col("recs"))),
        b => struct(a.as("a"), b.as("b")))))
    blocks
      .select(explode(pairs).as("p"))
      .select(col("p.a.doc_id").as("d1"), col("p.b.doc_id").as("d2"),
        levenshtein(col("p.a.pfx"), col("p.b.pfx")).cast(LongType).as("lev"))
      .filter(col("lev") <= 5)
  }

  /** EXACT SUBSTRING-duplication analysis — the within-corpus measure
    * behind suffix-array training-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): for
    * each doc, what fraction of its 8-token windows occurs verbatim in
    * more than one document. Unlike Jaccard near-dup (whole-doc
    * similarity) this catches PARTIAL copies — a quoted paragraph, a
    * boilerplate footer — that document-level signatures dilute away.
    *
    * Spark shape instead of a suffix array: explode each doc's
    * distinct 8-token windows (tight typed flatMap — the per-token
    * loop stays out of interpreted Column lambdas), count docs per
    * window, join the flag back, aggregate per doc. Two shuffles
    * (window key, then doc key), both partial-aggregating; nothing
    * quadratic anywhere — the window join is 1:n on window COUNTS,
    * never a doc-pair expansion. This string-keyed form is the
    * oracle-transparent audit; [[substringDupStatsHashed]] is the
    * production twin that shuffles 60-bit rolling-hash keys instead
    * (constant-width longs, same plan) — both are declared queries and
    * both oracle against the same string-form SQL. */
  def substringDupStats(spark: SparkSession, dir: String): DataFrame =
    substringDupStatsOf(spark, Tables.load(spark, dir, "documents"))

  /** [[substringDupStats]] over an explicit (doc_id, text, …) frame —
    * split out so DedupSpec can assert exact span counts on a
    * hand-built corpus. */
  def substringDupStatsOf(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    val wins = documents
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        WordCount.grams(WordCount.words(t), WinTokens, " ").map((id, _))
      }
      .toDF("doc_id", "w").distinct()
    dupStatsOverWindows(wins)
  }

  private val WinTokens = 8

  /** Exact-substring SCRUB audit — the transform behind the stats:
    * which tokens survive after removing every cross-doc duplicated
    * [[WinTokens]]-token window (the exact-substring dedup of
    * training-data pipelines: boilerplate, licenses, and templated
    * spans vanish; unique prose stays). A token is dropped iff ANY
    * window occurrence covering it is duplicated (appears in ≥ 2
    * docs); per doc the audit reports total / dropped / kept tokens
    * and the kept fraction — the number a curation run budgets with
    * before committing to the rewrite. Same scale shape as
    * [[substringDupStats]] plus one coverage explode (≤ 8 positions
    * per duplicated occurrence, distinct-collapsed): windows are
    * linear in corpus tokens, the flag join is 1:n on window COUNTS
    * (never doc pairs), and nothing is quadratic. */
  def substringDupScrub(spark: SparkSession, dir: String): DataFrame =
    substringDupScrubOf(spark, Tables.load(spark, dir, "documents"))

  /** [[substringDupScrub]] over an explicit (doc_id, text) frame, for
    * the hand-corpus spec. */
  def substringDupScrubOf(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    val toks = documents.select(col("doc_id"),
      size(WordCount.tokens(col("text"))).cast("long").as("n_tokens"))
    // windows with their 1-based start position — positions are needed
    // for coverage, so no distinct
    val wins = documents
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        WordCount.grams(WordCount.words(t), WinTokens, " ").zipWithIndex
          .map { case (w, i) => (id, i + 1, w) }
      }
      .toDF("doc_id", "pos", "w")
    // (A collect_list + analytic-count restructure was
    // measured and REJECTED here: WindowExec's per-partition sort of
    // the grouped stream cost more than the join it replaced —
    // 1.5→2.5 s. The positioned stream needs its positions carried
    // through, which is exactly what makes the window form heavy.)
    // "appears in ≥ 2 docs" ⟺ min(doc_id) ≠ max(doc_id) per window:
    // distinct on (doc_id, w) THEN groupBy(w) would be two full
    // exchanges of the window stream; min/max aggregate map-side (same-doc repeats
    // collapse before the shuffle) and need ONE exchange for the
    // identical dup-window set.
    val dup = wins.groupBy("w")
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .filter(col("dmin") =!= col("dmax")).select("w")
    val covered = wins.join(dup, "w")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(WinTokens - 1))).as("p"))
      .distinct()
    val dropped = covered.groupBy("doc_id").agg(count(lit(1)).as("n_dropped"))
    toks.join(dropped, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dropped"))
      .select(col("doc_id"), col("n_tokens"), col("n_dropped"),
        (col("n_tokens") - col("n_dropped")).as("n_kept"),
        when(col("n_tokens") === 0, 1.0)
          .otherwise(round((col("n_tokens") - col("n_dropped")).cast("double")
            / col("n_tokens").cast("double"), 6)).as("kept_frac"))
  }

  /** Shared tail of both substring-dup forms: docs-per-window count
    * attached by an analytic count over the window key, per-doc rollup.
    * `w` may be the raw window string or its 60-bit hash — the plan is
    * identical either way; only the shuffle-key width differs.
    *
    * Why a window count: a groupBy(w) count + join-back exchanges the
    * FULL window stream by `w` twice (the distinct/agg side and the
    * join probe side) and runs the window kernel once per side — the
    * optimizer shares neither (different exchange keys above the same
    * scan). `count(*) OVER (PARTITION BY w)` is the identical number
    * with ONE exchange of the stream and ONE kernel pass. Hot-key
    * profile is the same: both shapes hash the full stream by `w`, so
    * a boilerplate window lands on one reducer either way (the
    * [[MaxBucket]]-class risk the audit queries exist to surface). */
  private def dupStatsOverWindows(wins: DataFrame): DataFrame = {
    val perW = Window.partitionBy("w")
    wins.withColumn("nd", count(lit(1)).over(perW))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        round(col("n_dup_windows").cast(DoubleType)
          / col("n_windows").cast(DoubleType), 6))
  }

  /** PRODUCTION twin of [[substringDupStats]] — the form that runs at
    * 100 TB. Same plan, but the shuffle key is a 60-bit Rabin–Karp
    * rolling hash of the window instead of the raw 8-token string:
    * at corpus scale the window stream is ~10× the corpus volume, so
    * shuffling constant-width longs instead of ~50-byte strings cuts
    * the two shuffles' byte volume ~6× and removes string compares
    * from the window-count aggregation.
    *
    * The kernel is one tight typed flatMap (the [[graft.text
    * .TextAnalysis.docFingerprint]] mapPartitions idiom): each token
    * hashes once (FNV-1a 64 over UTF-8 bytes — a 64-bit base value, so
    * token-level collisions are ~2^-64, unlike String.hashCode's easy
    * 32-bit collisions), then the window hash ROLLS in O(1) per slide
    * (h' = (h − t_out·B^(w−1))·B + t_in, mod 2^64 by natural overflow,
    * masked to 60 bits on emit) — O(tokens) total, vs the string
    * form's O(tokens·w) window materialization.
    *
    * Collisions merge two distinct windows with probability ≈
    * n²/2^61 ≈ 1e-7 at sf0.1's ~500 k windows — which is why the
    * DECLARED oracle for this query is the string-form SQL itself: a
    * hash mismatch would surface as a CORRECTNESS failure, making
    * "the hashed twin computes the same dup_frac" a continuously
    * verified claim, not a comment. DedupSpec additionally pins
    * string-vs-hashed frame equality. */
  def substringDupStatsHashed(spark: SparkSession, dir: String): DataFrame =
    substringDupStatsHashedOf(spark, Tables.load(spark, dir, "documents"))

  def substringDupStatsHashedOf(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    val B = 1000003L
    val Mask60 = (1L << 60) - 1
    val bPow = { var p = 1L; var i = 1; while (i < WinTokens) { p *= B; i += 1 }; p }
    val wins = documents
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = WordCount.words(t)
        if (ws.length < WinTokens) Iterator.empty
        else {
          val th = new Array[Long](ws.length)
          var j = 0
          while (j < ws.length) {
            var h = 0xcbf29ce484222325L
            val bs = ws(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            var k = 0
            while (k < bs.length) { h = (h ^ (bs(k) & 0xffL)) * 0x100000001b3L; k += 1 }
            th(j) = h
            j += 1
          }
          val out = new Array[(Long, Long)](ws.length - WinTokens + 1)
          var h = 0L
          var i = 0
          while (i < WinTokens) { h = h * B + th(i); i += 1 }
          out(0) = (id, h & Mask60)
          i = 1
          while (i <= ws.length - WinTokens) {
            h = (h - th(i - 1) * bPow) * B + th(i + WinTokens - 1)
            out(i) = (id, h & Mask60)
            i += 1
          }
          out.iterator
        }
      }
      .toDF("doc_id", "w").distinct()
    dupStatsOverWindows(wins)
  }

  // ---- exact n-gram Jaccard (quadratic baseline) ----

  /** Hard corpus-size cap for the DECLARED-quadratic audit baselines
    * `ngram_jaccard` is kept solely to certify its scalable twins,
    * and its shared-shingle self-join shuffles Σf²-many candidate
    * pairs — measured ENOSPC at sf10 (the engine shuffle, not the
    * oracle). The cap admits every certified
    * audit rung (sf3 = 150k docs) and REFUSES larger corpora with an
    * explicit error instead of spilling the box: Bench records the
    * message as the query's error row and a Verify dump records an
    * engine-side verdict — a defined outcome at every rung, never an
    * ENOSPC. Raise deliberately via SPARK_GRAFT_AUDIT_MAX_DOCS. */
  val AuditMaxDocs: Long =
    sys.env.get("SPARK_GRAFT_AUDIT_MAX_DOCS").map(_.toLong).getOrElse(200000L)

  // ---- the near-dup rule ----

  /** The one near-dup threshold: a pair of documents is a near-dup iff
    * the exact Jaccard of their word-3gram shingle sets is at least this.
    * [[nearDup]] is the rule as a Column, [[isNearDup]] on the driver;
    * every near-dup query, the band index and the ingest streams decide
    * with one of the two. */
  val NearDupJaccard = 0.5

  /** Exact Jaccard |A∩B| / (|A|+|B|−|A∩B|) of a pair, from its
    * intersection size `c` and set sizes `n1`, `n2` (the columns
    * [[verifiedIntersections]] attaches). */
  def jaccard: Column =
    col("c").cast(DoubleType) / (col("n1") + col("n2") - col("c")).cast(DoubleType)

  /** The near-dup rule over [[jaccard]]. */
  def nearDup: Column = jaccard >= NearDupJaccard

  /** Driver twin of [[nearDup]]: `a` is a distinct shingle array (a
    * [[shingleSet]]), `b` a shingle set. */
  def isNearDup(a: Array[String], b: Set[String]): Boolean = {
    val c = a.count(b)
    c.toDouble / (a.length + b.size - c) >= NearDupJaccard
  }

  /** All pairs that are near-dups by [[nearDup]]. Shared-shingle self-join:
    * explode distinct shingles, join on shingle, count intersections,
    * Jaccard = |∩| / (|A|+|B|-|∩|). Refuses corpora beyond
    * [[AuditMaxDocs]] — see the cap's docstring. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardCapped(spark, dir, AuditMaxDocs)

  private[graft] def ngramJaccardCapped(spark: SparkSession, dir: String,
                                        maxDocs: Long): DataFrame = {
    // memoized, so the guard does not re-pay a count job per rep
    val nDocs = Tables.rowCount(spark, dir, "documents")
    require(nDocs <= maxDocs,
      s"ngram_jaccard is the declared O(n^2) audit-tier baseline: " +
        s"$nDocs docs exceeds the $maxDocs-doc cap (measured sf10 engine " +
        s"ENOSPC, r15). Run the scalable twins (minhash_neardup family) " +
        s"at this scale, or raise SPARK_GRAFT_AUDIT_MAX_DOCS deliberately.")
    val docs = cachedDocShingles(spark, dir)
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val inter = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
    val s1 = sizes.select(col("doc_id").as("jd1"), col("n").as("n1"))
    val s2 = sizes.select(col("doc_id").as("jd2"), col("n").as("n2"))
    inter
      .join(broadcast(s1), col("d1") === col("jd1"))
      .join(broadcast(s2), col("d2") === col("jd2"))
      .filter(nearDup)
      .select(col("d1"), col("d2"), round(jaccard, 6).as("jaccard"))
  }

  // ---- MinHash + LSH ----

  val P = 2147483647L // 2^31 - 1
  val NumHashes = 32
  val BandRows = 4 // -> 8 bands

  /** Algorithm-parameter fingerprint for MinHash-family artifacts in
    * [[graft.IndexStore]]: changing any constant re-keys the standing
    * band/label artifacts so old-parameter indexes are never silently
    * reused. */
  private[graft] def MinhashIndexParams =
    s"sh=$ShingleWidth,p=$P,h=$NumHashes,r=$BandRows,jac=$NearDupJaccard"

  /** The md5-60 fold of a shingle reduced mod p — the base hash the
    * permutation family acts on. The DuckDB oracles spell it as
    * `fp60 % p` (pinned by DedupSpec and the minhash oracle). */
  def baseHashJvm(md: java.security.MessageDigest, s: String): Long =
    WordCount.fp60(md, s) % P

  def hashA(i: Int): Long = (2654435761L * (i + 1)) % P
  def hashB(i: Int): Long = (1013904223L * (i + 1)) % P

  /** MinHash signatures: per doc, the k-vector of min over shingles of
    * (a_i·h + b_i) mod p — computed by the [[MinSig]] Aggregator (one
    * tight JVM loop per shingle, map-side partial elementwise-min
    * merge), so the shuffle carries exactly one k-long row per doc.
    * (An explode-by-k + groupBy(doc, i) formulation measured ~6 s at
    * sf0.1 from row-multiplication alone; this is sub-second.) */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOf(spark, docShingles(spark, dir))

  /** Signature pipeline over an already-built (doc_id, sh) frame, so a
    * caller holding a persisted shingle frame shares one
    * materialization between signatures and verification.
    *
    * ZERO-shuffle form: each doc's shingle array is already on one row,
    * so the whole k-vector is a narrow per-partition computation — no
    * explode, no exchange. (The [[MinSig]] Aggregator is the tool when
    * input arrives as ungrouped (doc, shingle) streams; DedupSpec pins
    * its equivalence to this form.) Docs with no shingles are dropped,
    * matching the explode form and the oracle. */
  def minhashSignaturesOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("sh"))
      .as[(Long, Array[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.filter(_._2.nonEmpty).map { case (id, sh) => (id, signature(sh, md).toSeq) }
      }
      .toDF("doc_id", "sig")
  }

  private val HashAs = Array.tabulate(NumHashes)(hashA)
  private val HashBs = Array.tabulate(NumHashes)(hashB)

  /** One doc's MinHash signature over its shingle set: the kernel of
    * [[minhashSignaturesOf]], also run on the driver by the ingest step.
    * `md` is a reusable MD5 digest (one per partition or caller). */
  def signature(sh: Array[String],
                md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var j = 0
    while (j < sh.length) {
      val h = baseHashJvm(md, sh(j))
      var i = 0
      while (i < NumHashes) {
        val v = (HashAs(i) * h + HashBs(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    sig
  }

  /** LSH bucket cap: buckets holding more than this many doc ids are
    * dropped from candidate generation (a bucket of m ids expands to
    * m·(m−1)/2 pairs — a degenerate near-identical cluster would go
    * quadratic without a bound). 1000 ids = ≤ ~500 k local pairs, far
    * above any honest near-dup cluster in the test corpora, so the cap
    * never fires at test SFs and the oracle (which has no cap) still
    * matches; at 100 TB it is the knob that keeps a worst-case cluster
    * from stalling a task. */
  val MaxBucket = 1000

  /** (doc_id, band, sig) banded-signature frame: [[BandRows]]-row
    * slices of the MinHash signature, stringified per band. Shared by
    * the self-dedup candidates, the incremental form, and containment. */
  private[graft] def bandsOf(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until NumHashes / BandRows).map { b =>
      struct(lit(b).as("band"),
        array_join(transform(
          slice(col("sig"), b * BandRows + 1, BandRows),
          v => v.cast("string")), ",").as("sig"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Driver twin of [[bandsOf]] for one signature: its (band, sig) keys,
    * row-equal to the frame form (pinned by a spec). */
  private[graft] def bandKeys(sig: Array[Long]): Seq[(Int, String)] =
    sig.grouped(BandRows).zipWithIndex.map { case (s, b) => (b, s.mkString(",")) }.toSeq

  /** Session-memoized full-corpus banding frame — the (doc_id, band,
    * sig) output of the 32-hash signature kernel + banding over
    * [[cachedDocShingles]], persisted per (session, corpus). Its
    * consumers — the self-dedup candidates, containment, the recall
    * certification, the bucket audit, the probe slices — would
    * otherwise re-run the signature kernel per INVOCATION; the memo
    * runs it once per session and the ~6 consumers share the
    * materialized rows; the first-vs-median split in the bench
    * keeps the materialization cost visible. (The incremental twin
    * `minhash_incremental` deliberately keeps its own two per-parity
    * kernel passes — its spec-pinned contract is "recomputes both
    * sides", contrasted against the indexed form.) */
  private[graft] def cachedCorpusBands(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.persisted(spark, "dedup.bands", dir) {
      bandsOf(minhashSignaturesOf(spark, cachedDocShingles(spark, dir)))
    }

  /** Self-join candidate pairs (d1 < d2) from shared band buckets —
    * built via group-by-bucket + local pair expansion rather than a
    * bands self-join: the self-join would recompute the whole
    * signature pipeline for each side, and a hot bucket (a large
    * near-identical cluster) explodes in the join just the same —
    * here the quadratic expansion is explicit, local to its bucket,
    * and bounded by [[MaxBucket]]. Takes the banding frame directly
    * (corpus callers pass [[cachedCorpusBands]], the slices its
    * probe-hit buckets). */
  private def minhashCandidates(bands: DataFrame): DataFrame = {
    val pairsUdf = udf { ids: Seq[Long] =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
    }
    bands.groupBy("band", "sig")
      .agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= MaxBucket)
      .select(explode(pairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("d1"), col("p._2").as("d2"))
      .distinct()
  }

  /** The one collision step of a batch against an index: distinct
    * (dn, dc) pairs of a batch doc and an index doc that share a
    * (band, sig) bucket. Both inputs are (doc_id, band, sig) frames
    * ([[bandsOf]]); index docs without bands (erased or absent) can
    * never collide. */
  private[graft] def collisions(batchBands: DataFrame, indexBands: DataFrame): DataFrame =
    batchBands.select(col("doc_id").as("dn"), col("band"), col("sig"))
      .join(indexBands.select(col("doc_id").as("dc"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("dn", "dc").distinct()

  /** The one verify stage: candidate pairs joined back to both docs'
    * shingle sets, with the exact intersection size `c` and the set
    * sizes `n1`, `n2` attached (the inputs of [[jaccard]]). `cand`
    * holds two doc_id columns: the first is looked up in `lhsSh`, the
    * second in `rhsSh`, both (doc_id, sh) frames. A corpus verified
    * against itself passes its shingle frame twice; a batch verified
    * against an index passes each side's own frame, so a doc_id that is
    * in both is verified only across them, never against itself.
    *
    * The candidate frame's static size estimate is garbage (groupBy →
    * explode → distinct erases it) while its TRUE size is output-bound
    * — never small at scale. Left unhinted, the planner broadcast it
    * at sf10 (tens of millions of pairs) and the build OOM'd the
    * driver; the merge hint pins both verify joins to sort-merge,
    * which is the only shape that survives any corpus. (At tiny SFs
    * AQE's local shuffle reader keeps the cost near-broadcast.) */
  private[graft] def verifiedIntersections(cand: DataFrame, lhsSh: DataFrame,
                                           rhsSh: DataFrame): DataFrame = {
    val (lhs, rhs) = (cand.columns(0), cand.columns(1))
    cand.hint("merge")
      .join(lhsSh.select(col("doc_id").as(lhs), col("sh").as("sh1"), size(col("sh")).as("n1")), lhs)
      .hint("merge")
      .join(rhsSh.select(col("doc_id").as(rhs), col("sh").as("sh2"), size(col("sh")).as("n2")), rhs)
      .withColumn("c", size(array_intersect(col("sh1"), col("sh2"))).cast(LongType))
  }

  /** The batch side of the near-dup decision: the doc_ids of `batch`
    * that no collision in `cand` ((dn, dc), from [[collisions]])
    * verifies as a near-dup, with batch shingles from `batchSh` and
    * index shingles from `indexSh`. Batch docs too short to shingle have
    * no bands, hence no collisions, and are accepted. */
  private[graft] def acceptedBatch(batch: DataFrame, cand: DataFrame,
                                   batchSh: DataFrame, indexSh: DataFrame): DataFrame = {
    val matched = verifiedIntersections(cand, batchSh, indexSh)
      .filter(nearDup)
      .select(col("dn").as("doc_id")).distinct()
    batch.select("doc_id").join(matched, Seq("doc_id"), "left_anti")
  }

  /** The scoring body of the pair queries: `cand` (d1, d2) verified
    * against the corpus shingles, kept where `measure` reaches
    * `threshold`, and projected as (d1, d2, `name` rounded to 6 dp). */
  private def scoredPairs(spark: SparkSession, dir: String, cand: DataFrame,
                          measure: Column, threshold: Double, name: String): DataFrame = {
    val docs = cachedDocShingles(spark, dir)
    verifiedIntersections(cand, docs, docs)
      .filter(measure >= threshold)
      .select(col("d1"), col("d2"), round(measure, 6).as(name))
  }

  /** LSH banding: 8 bands × 4 rows; band signature joins docs sharing
    * any band; candidates verified by the [[nearDup]] rule. Output
    * matches `ngram_jaccard` whenever LSH recall is total (it is for
    * the ~0.98-Jaccard injected dups: miss prob (1-j⁴)⁸ ≈ 1e-9).
    *
    * Uses the session-scoped [[cachedDocShingles]]: the frame feeds the
    * signature pipeline once and the verify join twice, and without the
    * persist the parquet scan + shingling re-ran for each (measured at
    * 3× on the driver bench). */
  def minhashNeardup(spark: SparkSession, dir: String): DataFrame =
    scoredPairs(spark, dir, minhashCandidates(cachedCorpusBands(spark, dir)),
      jaccard, NearDupJaccard, "jaccard")

  /** Containment threshold for [[shingleContainment]]. */
  val ContainmentThreshold = 0.8

  /** |A∩B| / min(|A|,|B|) of a verified pair. */
  private def containment: Column =
    col("c").cast(DoubleType) / least(col("n1"), col("n2")).cast(DoubleType)

  /** Asymmetric containment near-dup: for each banded candidate pair,
    * containment = |A∩B| / min(|A|,|B|) — the measure that catches a
    * short doc quoted wholesale inside a longer one, where Jaccard
    * (÷ union) stays low. Same candidates, same verify joins as
    * [[minhashNeardup]]; only the acceptance ratio differs, so the
    * marginal cost over the Jaccard pass is one comparison.
    *
    * Recall contract (stated, and replayed exactly by the oracle):
    * candidates come from FULL-signature band collisions, so this
    * surfaces containment among near-dup-sized pairs; radically
    * different-sized containment (a tweet inside a book) needs
    * partial-signature banding — at 100 TB you band the contained
    * side's signature only, an index-build variant of this same plan. */
  def shingleContainment(spark: SparkSession, dir: String): DataFrame =
    scoredPairs(spark, dir, minhashCandidates(cachedCorpusBands(spark, dir)),
      containment, ContainmentThreshold, "containment")

  /** Incremental near-dup — the steady-state daily shape (the MinHash
    * twin of [[dedupIncremental]]'s exact form): odd doc_ids play the
    * incoming batch, even ids the standing corpus. Band signatures are
    * computed ONCE over both sides (in production the corpus side's
    * bands are a standing index read from storage, not recomputed);
    * candidates are the batch's [[collisions]] with the corpus, and a
    * new doc is accepted iff none of them is a [[nearDup]]
    * ([[acceptedBatch]]) — same as the oracle.
    *
    * Scale shape: the join keys are (band, sig) constant-width
    * strings; the verify joins are merge-pinned like every candidate
    * verify in this module; and the batch side is the small side at
    * 100 TB (a day's crawl vs the corpus), so per-batch cost tracks
    * batch size + matched-bucket corpus rows, never the full corpus. */
  def minhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = cachedDocShingles(spark, dir)
    // parity filters go UNDER the signature kernel: a filter above
    // minhashSignaturesOf can't push through the typed mapPartitions,
    // so each join side would re-run the 32-hash kernel over the WHOLE
    // corpus and discard half
    def bands(parity: Int) =
      bandsOf(minhashSignaturesOf(spark, docs.filter(col("doc_id") % 2 === parity)))
    acceptedBatch(Tables.load(spark, dir, "documents").filter(col("doc_id") % 2 === 1),
      collisions(bands(1), bands(0)), docs, docs)
  }

  // ---- near-dup cluster resolution (pairs -> components -> survivors) ----

  /** Session-scoped persisted VERIFIED-PAIRS frame: the pair list feeds
    * the `minhash_neardup` result, the component resolution, and through
    * it the training-set selection — three consumers of a frame that is tiny (one row per
    * verified near-dup pair) but expensive to produce (the whole
    * signature pipeline). Computing pairs once and clustering the
    * materialized list is exactly how the 100 TB pipeline stages it. */
  def cachedMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.persisted(spark, "dedup.pairs", dir)(minhashNeardup(spark, dir))

  /** (id, label) connected components of the minhash near-dup pair
    * graph — label = min doc_id of the component, which IS the elected
    * survivor (min-id election falls out of min-label propagation for
    * free, see [[graft.operators.ConnectedComponents]]). Memoized per
    * (session, corpus): the component resolution runs once and its
    * checkpointed label frame is shared by `neardup_clusters`,
    * `train_eval_split_neardup`, `training_set_select_neardup` and the
    * cold build of [[BandIndex.storedComponents]], which publishes this
    * frame instead of resolving the graph a second time. */
  def neardupComponents(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.memo(spark, "dedup.components", dir) {
      ConnectedComponents.resolve(
        cachedMinhashPairs(spark, dir).select("d1", "d2"), "d1", "d2")
    }

  /** [[neardupComponents]] resolved by the alternating large-star /
    * small-star algorithm ([[ConnectedComponents.resolveAlternating]])
    * instead of diameter-bound label propagation — the mode a
    * long-chain pair graph needs at 100 TB (O(log n) rounds vs O(n)).
    * Same (id, label = component min) contract. */
  def neardupComponentsBigstar(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.memo(spark, "dedup.componentsBigstar", dir) {
      ConnectedComponents.resolveAlternating(
        cachedMinhashPairs(spark, dir).select("d1", "d2"), "d1", "d2")
    }

  /** Shared (labels → clusters) tail of both resolution modes and of
    * [[BandIndex.neardupClustersIndexed]]: each labelled doc with its
    * label's size, a window count over the label. One exchange on the
    * label and no join, so no size estimate of the label frame can pick
    * a join strategy. */
  private[dedup] def clustersFrom(comp: DataFrame): DataFrame =
    comp.select(col("id").as("doc_id"), col("label").as("cluster_id"),
      count(lit(1)).over(Window.partitionBy(col("label"))).as("cluster_size"))

  /** The missing stage between "pairs exist" and "the pipeline works":
    * minhash pairs grouped into clusters, one row per clustered doc
    * with its cluster id (= min member id = survivor) and cluster size.
    * Docs in no near-dup pair are absent (they survive trivially). */
  def neardupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFrom(neardupComponents(spark, dir))

  /** [[neardupClusters]] with the components resolved by the
    * alternating-star algorithm — declared as its own query (oracle =
    * `neardup_clusters`' SQL) so the logarithmic-round mode is
    * certified at the ORACLE level, not only by the result-equality
    * spec on hand-built graphs. */
  def neardupClustersBigstar(spark: SparkSession, dir: String): DataFrame =
    clustersFrom(neardupComponentsBigstar(spark, dir))

  // ---- SimHash ----

  val SimBits = 60

  /** 60-bit SimHash per doc over its tokens (with multiplicity): bit j
    * set iff Σ_tokens (2·bit_j(h(token))−1) > 0. One explode per
    * (token), one per bit index, partial-aggregated sums. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = new SimHashAgg(SimBits).toColumn
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(WordCount.tokens(col("text"))).as("w"))
      .select(col("doc_id"), WordCount.fp60(col("w")).as("h"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("simhash"))
      .toDF("doc_id", "simhash")
  }

  // ---- embedding cosine near-dup ----

  /** Grid cell count for the blocked all-pairs product: vectors are
    * hashed into B blocks by id; cell (i, j), i ≤ j, receives blocks i
    * and j and emits only pairs whose blocks are exactly (i, j). Each
    * vector is replicated to exactly B cells, each cell holds ≤ 2n/B
    * vectors, and every unordered pair lands in exactly one cell — so
    * executor memory per task is tuned by B alone, with NO driver
    * collect and NO broadcast. At 100 TB you raise B so 2n/B vectors
    * fit a task (work stays Σ n²/2, just spread over B(B+1)/2 cells) —
    * or switch to the LSH path (similarity.Similarity.similarAnnLsh)
    * when exact all-pairs is off the table entirely. */
  val GridBlocks = 8

  /** All pairs with cosine >= [[Similarity.NeardupCosine]] over the
    * 64-dim embeddings — the exact O(n²) baseline the ANN path
    * approximates, executed as a grid-blocked pair product (see
    * [[GridBlocks]]): one shuffle of B-replicated vectors into cells,
    * then a tight JVM dot-product loop ([[Similarity.dotA]]) per cell.
    * The expression-tree formulation (self-join +
    * zip_with/aggregate lambdas per pair) measured 22 s at sf0.1; this
    * shape is sub-second and cluster-safe. Arithmetic matches the
    * oracle bit-for-bit: left-to-right double dot folds (index-order
    * adds, so dot(a,b) = dot(b,a) exactly), sim = dot/(√Σa²·√Σb²). */
  def embeddingNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val B = GridBlocks
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    val cells = for (i <- 0 until B; j <- i until B) yield (i, j)
    vecs.flatMap { case (id, v) =>
      val b = (id % B).toInt
      cells.iterator
        .filter { case (i, j) => i == b || j == b }
        .map { case (i, j) => (i * B + j, id, v) }
    }.groupByKey(_._1).flatMapGroups { (cell, it) =>
      val i = cell / B; val j = cell % B
      val items = it.map { case (_, id, v) => (id, v, math.sqrt(Similarity.dotA(v, v))) }
        .toArray.sortBy(_._1)
      def emit(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)) = {
        val (lo, hi) = if (a._1 < b._1) (a, b) else (b, a)
        (lo._1, hi._1, Similarity.dotA(lo._2, hi._2) / (lo._3 * hi._3))
      }
      val pairs =
        if (i == j)
          for (x <- items.indices.iterator; y <- x + 1 until items.length)
            yield emit(items(x), items(y))
        else {
          val bi = items.filter(t => (t._1 % B).toInt == i)
          val bj = items.filter(t => (t._1 % B).toInt == j)
          for (a <- bi.iterator; b <- bj)
            yield emit(a, b)
        }
      pairs.filter(_._3 >= Similarity.NeardupCosine)
    }.toDF("id1", "id2", "sim")
      .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim"))
  }

  /** Probe budget for [[minhashRecall]] — the sampled-recall audit runs
    * a CONSTANT number of probes regardless of corpus size (the same
    * posture as [[graft.similarity.Similarity.annRecall]]'s NumProbes),
    * so its exact-truth side stays bounded at every SF. */
  val RecallProbes = 64L

  /** Probe stride for an n-doc corpus: every `recallEvery(n)`-th doc_id
    * is a probe → ≈[[RecallProbes]] probes. The oracle derives the SAME
    * expression from COUNT(*) (the [[graft.similarity.Similarity
    * .cellsFor]] replay contract). */
  def recallEvery(n: Long): Long = math.max(1L, n / RecallProbes)

  private def docCount(spark: SparkSession, dir: String): Long =
    Tables.rowCount(spark, dir, "documents")

  /** MinHash banding RECALL certification — the quality number the
    * whole text near-dup family rides on, put under the oracle: for a
    * bounded probe sample, compare the docs whose
    * exact word-3gram Jaccard with the probe passes [[nearDup]] (the TRUTH, from
    * the same shingle algebra as [[ngramJaccard]], restricted to the
    * probe sample) against the PRODUCTION candidate generation — shared
    * (band, sig) buckets under the [[MaxBucket]] cap, exactly what
    * [[minhashCandidates]] feeds the verify stage. Per probe:
    * `n_true` exact partners, `n_found` of them banded-reachable, and
    * recall = found/true. Probes with no true partner emit no row
    * (recall of an empty set is undefined, and at banding-audit time
    * the singleton fraction is [[lshBucketAudit]]'s job).
    *
    * This is how a 100 TB run certifies banding recall — never the full
    * quadratic truth, always a probe sample: the exact side's
    * shared-shingle join is bounded by the [[RecallProbes]] budget (one
    * side of the join is ~64 docs' shingles), the banded side is one
    * linear banding pass + a probe-filtered bucket join, and the output
    * is ≤ probes rows. A banding config change (rows per band, hash
    * count, the cap) lands here as a measured recall shift BEFORE it
    * ships — the [[graft.similarity.Similarity.annRecall]] pattern
    * applied to text. */
  def minhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = cachedDocShingles(spark, dir)
    val every = recallEvery(docCount(spark, dir))
    val isProbe = (c: Column) => c % every === 0

    // exact truth, probe-restricted: the ngram_jaccard machinery with
    // one join side cut to the probe sample — O(probe shingle
    // occurrences), never the corpus-quadratic baseline
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val exP = ex.filter(isProbe(col("doc_id")))
      .select(col("doc_id").as("p"), col("s"))
    // the probe sides are ≈RecallProbes docs' rows — broadcast them
    // EXPLICITLY: without the hint the optimizer's post-filter size
    // estimate decides, and a wrong estimate shuffles the corpus-scale
    // shingle explode to answer a 64-probe audit. PlanShapeSpec pins
    // the shape.
    val inter = broadcast(exP).join(ex, Seq("s"))
      .filter(col("p") =!= col("doc_id"))
      .groupBy(col("p"), col("doc_id").as("d"))
      .agg(count(lit(1)).as("c"))
    // inter is ≤ probes × exact-partners rows — broadcast it (and the
    // first join's output) over the two size lookups so the corpus-
    // sized `sizes` frame streams through both joins without an
    // exchange
    val truePairs = broadcast(broadcast(inter)
        .join(sizes.select(col("doc_id").as("p"), col("n").as("n1")), Seq("p")))
      .join(sizes.select(col("doc_id").as("d"), col("n").as("n2")), Seq("d"))
      .filter(nearDup)
      .select("p", "d")

    // production candidates, probe-filtered: same bands, same bucket
    // cap as minhashCandidates — a pair is reachable iff the two docs
    // share any under-cap (band, sig) bucket. The occupancy census
    // runs over ONLY the probe-hit buckets (a semi-join against the
    // broadcast probe bucket list keeps whole buckets, so each kept
    // bucket's count equals the global census) — the memoized corpus
    // banding frame streams, nothing corpus-sized shuffles.
    val bands = cachedCorpusBands(spark, dir)
    val bandsP = bands.filter(isProbe(col("doc_id")))
      .select(col("doc_id").as("p"), col("band"), col("sig"))
    val bucketRows = bands.join(
      broadcast(bandsP.select("band", "sig").distinct()),
      Seq("band", "sig"), "left_semi")
    // occupancy as a window over the (small) probe-hit rows, not a
    // separate census + semi-join — bucketRows (and with it the
    // banding kernel) is consumed exactly once
    val wOcc = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
    val underCap = bucketRows
      .withColumn("occ", count(lit(1)).over(wOcc))
      .filter(col("occ") <= MaxBucket)
    val cand = broadcast(bandsP)
      .join(underCap, Seq("band", "sig"))
      .filter(col("p") =!= col("doc_id"))
      .select(col("p"), col("doc_id").as("d"))
      .distinct()

    val truth = truePairs.groupBy("p").agg(count(lit(1)).as("n_true"))
    val found = truePairs.join(broadcast(cand), Seq("p", "d"), "left_semi")
      .groupBy("p").agg(count(lit(1)).as("n_found"))
    // found is ≤ probes rows; without the hint the outer join SMJs
    truth.join(broadcast(found), Seq("p"), "left")
      .na.fill(0L, Seq("n_found"))
      .select(col("p").as("probe_id"), col("n_true"), col("n_found"),
        round(col("n_found").cast(DoubleType)
          / col("n_true").cast(DoubleType), 6).as("recall"))
  }

  // ---- probe-sliced certification twins ----
  //
  // The pair-bound family's oracles replay Σf² bucket self-joins as
  // SQL, which is DuckDB-disk-infeasible above sf3 (at sf10, 8 queries
  // exhausted spill twice with 68 GB free). These `*_slice`
  // twins certify EXACTLY the same pipelines — same banding, same
  // MaxBucket cap, same verify arithmetic, same cluster resolution —
  // restricted to a constant probe budget, so the oracle stays
  // linear-ish at any SF (the minhash_recall / knn_graph_recall slice
  // pattern applied to each pair-bound query).

  /** Probe rule for the slice twins: doc_id % e ∈ {0, 1} with
    * e = [[recallEvery]](n) — BOTH residues, so the sample
    * (≈2·[[RecallProbes]] docs) hits each parity even when e is even
    * (the fold slices decide only ODD docs; a `% e = 0` rule with even
    * e would sample zero of them). The oracle derives the identical
    * rule from COUNT(*). At e = 1 every doc is a probe and each slice
    * degenerates to its full query. */
  def sliceProbe(spark: SparkSession, dir: String): Column =
    col("doc_id") % recallEvery(docCount(spark, dir)) <= 1

  /** [[minhashCandidates]] over the probe-hit buckets, restricted to
    * pairs with a [[sliceProbe]] endpoint — the same grouped-bucket pair
    * expansion under the same global [[MaxBucket]] occupancy (probe-hit
    * buckets are kept WHOLE by the semi-join, so each kept bucket's
    * size equals the full census and the cap decision is the full
    * query's; a pair touching a probe shares a bucket CONTAINING that
    * probe, so probe-hit buckets see every such pair). Plan shape is
    * [[minhashRecall]]'s: the corpus banding pass streams against a
    * broadcast probe-bucket list, nothing corpus-sized shuffles, output
    * bounded by probes · bands · cap. */
  private def slicedCandidates(spark: SparkSession, dir: String): DataFrame = {
    val every = recallEvery(docCount(spark, dir))
    val isProbe = (c: Column) => c % every <= 1
    val bands = cachedCorpusBands(spark, dir)
    val probeBuckets = bands.filter(isProbe(col("doc_id"))).select("band", "sig").distinct()
    minhashCandidates(bands.join(broadcast(probeBuckets), Seq("band", "sig"), "left_semi"))
      .filter(isProbe(col("d1")) || isProbe(col("d2")))
  }

  /** [[minhashNeardup]]'s probe slice: identical rows for every pair
    * touching a probe, certifiable by a linear oracle at any SF. */
  def minhashNeardupSlice(spark: SparkSession, dir: String): DataFrame =
    scoredPairs(spark, dir, slicedCandidates(spark, dir),
      jaccard, NearDupJaccard, "jaccard")

  /** [[shingleContainment]]'s probe slice — same candidates, the
    * containment acceptance. */
  def shingleContainmentSlice(spark: SparkSession, dir: String): DataFrame =
    scoredPairs(spark, dir, slicedCandidates(spark, dir),
      containment, ContainmentThreshold, "containment")

  /** Probe-seeded component closure over a banded candidate frame —
    * the engine twin of the cluster-slice oracle's frontier unroll: BFS
    * from each [[sliceProbe]] doc over VERIFIED near-dup edges, with
    * edges computed ON DEMAND for each round's frontier (bucket join
    * under the global [[MaxBucket]] cap + exact-Jaccard verify), so the
    * engine's work per round is bounded by frontier · bands · cap — the
    * probes' component volume, never the corpus pair graph. Filtering
    * the FULL resolution instead (labels are global state) would keep
    * the cluster slices Σf²-bound; the closure makes them end-to-end
    * linear, while the full cluster queries stay
    * [[graft.Bench.PairBoundQueries]]-tiered.
    *
    * Equality contract: at fixpoint the closure IS the probe's whole
    * component, so (min member id, member count) equal the full
    * resolution's label and size — DedupSpec pins slice ≡
    * full-filtered per mode, and the slice oracle hashes are
    * unchanged. The rounds cap mirrors the oracle's fixed unroll
    * ([[ComponentOracleRounds]]); near-dup components are dup-family
    * near-cliques (diameter 1–2), and an insufficient cap lands as a
    * wrong label — a red row — never a silent pass. Because the
    * oracle unrolls the SAME depth, a crafted over-diameter component
    * could make both sides agree on a truncated answer — DedupSpec's
    * sliding-window chain specs pin that regime: a component whose
    * positional extent exceeds the budget visibly diverges from the
    * cap-free full resolution (the suite's guard), while cap-safe
    * shapes reach fixpoint early and match it exactly.
    *
    * The loop runs on [[graft.Fixpoint]]: the state is one frame,
    * `reached` (p, d, round), and round r checkpoints `reached ∪ fresh`
    * with the flag "some row of round r", so the frontier is
    * `round = r − 1` and no action tests it for emptiness. Plan shape
    * per round: the banding frame streams against a broadcast
    * frontier-bucket list; buckets over the cap leave by a broadcast
    * anti join against the over-cap list computed once per call; the
    * verify join runs on the round's deduped candidate pairs only.
    * The result is checkpointed, and every frame the call made is
    * freed before it returns, so freeing the result leaves nothing. */
  private[graft] def probeComponentClosure(spark: SparkSession, dir: String,
                                           bands: DataFrame): DataFrame = {
    val docs = cachedDocShingles(spark, dir)
    val every = recallEvery(docCount(spark, dir))
    // one banding pass feeds every closure round — persist for the
    // loop, released before the result returns. An ALREADY-persisted
    // frame (the session-memoized corpus bands) is used as-is and left
    // alone: unpersisting it here would evict every sibling query's
    // memo.
    val prePersisted =
      bands.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val b = if (prePersisted) bands
      else SessionCaches.persist(bands)
    // Bucket occupancy is a property of the bands frame alone, so the
    // over-cap bucket list is computed once per call: a map-side
    // aggregated groupBy whose shuffle carries bucket counts, never band
    // rows, and whose result is tiny by construction (a bucket lands
    // here only past [[MaxBucket]] members, so ≤ |bands|/MaxBucket
    // rows). Each round drops those buckets with one broadcast anti join.
    val hotBuckets = b.groupBy("band", "sig")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > MaxBucket)
      .select("band", "sig")
      .localCheckpoint(true)
    try {
      val probes = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % every <= 1)
        .select(col("doc_id").as("p"), col("doc_id").as("d"), lit(0).as("round"))
      val (reached, _, _) = Fixpoint.iterate(probes, ComponentOracleRounds) { r =>
        val frontier = r.state.filter(col("round") === r.index - 1)
        // the frontier docs' band rows (≤ frontier·bands — broadcast
        // side; one consumer, so no checkpoint)
        val fBands = b.join(
            broadcast(frontier.select(col("d").as("doc_id")).distinct()),
            Seq("doc_id"))
          .select(col("doc_id").as("d1"), col("band"), col("sig"))
        val partners = b
          .join(broadcast(fBands), Seq("band", "sig"))
          .filter(col("doc_id") =!= col("d1"))
          .join(broadcast(hotBuckets), Seq("band", "sig"), "left_anti")
          .select(col("d1"), col("doc_id").as("d2"))
          .distinct()
        // attach probes; prune (p, d2) already closed BEFORE the
        // verify join (the oracle prunes AFTER via EXCEPT — same sets,
        // pruning early only drops verify work). pPairs and vdocs are
        // checkpointed: the round reads pPairs three times, and a fused
        // round re-derives the partners pipeline past what exchange
        // reuse recovers (measured slower: 45 → 59 jobs, 4.7 → 5.2 s).
        val pPairs = r.checkpoint(partners
          .join(broadcast(frontier.select(col("p"), col("d").as("d1"))), Seq("d1"))
          .join(r.state.select(col("p"), col("d").as("d2")), Seq("p", "d2"), "left_anti"))
        // Probe-bounded verify: the round's candidate set is
        // ≤ frontier·bands·[[MaxBucket]] pairs by design (the slice
        // family's contract), so unlike the corpus-bound verifies this
        // one cuts the docs side down FIRST — a broadcast semi-join on
        // the candidates' id list leaves a docs subset of component
        // size, and the shared merge-pinned verify sorts hundreds of
        // rows, not the corpus. Results are identical — the semi-join
        // drops only docs no candidate pair references.
        val cands = pPairs.select("d1", "d2").distinct()
        val candIds = cands.select(col("d1").as("doc_id"))
          .union(cands.select(col("d2").as("doc_id"))).distinct()
        val vdocs = r.checkpoint(
          docs.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
        val verified = verifiedIntersections(cands, vdocs, vdocs)
          .filter(nearDup).select("d1", "d2")
        val fresh = pPairs.join(verified, Seq("d1", "d2"), "left_semi")
          .select(col("p"), col("d2").as("d"), lit(r.index).as("round")).distinct()
        (r.state.unionByName(fresh), max(col("round") === r.index))
      }
      val clusters = reached.groupBy("p").agg(
          min(col("d")).as("cluster_id"),
          countDistinct(col("d")).as("cluster_size"))
        .filter(col("cluster_size") > 1)
        .select(col("p").as("doc_id"), col("cluster_id"), col("cluster_size"))
        .localCheckpoint(true)
      SessionCaches.free(reached)
      clusters
    } finally {
      SessionCaches.free(hotBuckets)
      if (!prePersisted) b.unpersist()
      ()
    }
  }

  /** [[neardupClusters]]' probe slice: the probe docs' component rows
    * via [[probeComponentClosure]] over the recomputed banding frame —
    * end-to-end probe-bounded, like the oracle's frontier unroll. */
  def neardupClustersSlice(spark: SparkSession, dir: String): DataFrame =
    probeComponentClosure(spark, dir, cachedCorpusBands(spark, dir))

  /** [[neardupClustersBigstar]]'s probe slice — the alternating-star
    * resolution under the same slice oracle. Deliberately STILL the
    * full resolution filtered (pair-bound): this twin exists to
    * certify the alternating-star MODE at scale rungs, and there is no
    * probe-bounded variant of that algorithm — a closure-based engine
    * here would be plan-identical to [[neardupClustersSlice]], i.e. a
    * duplicate query under a second name, certifying nothing new. */
  def neardupClustersBigstarSlice(spark: SparkSession, dir: String): DataFrame =
    neardupClustersBigstar(spark, dir).filter(sliceProbe(spark, dir))

  /** Band-bucket occupancy audit — the operational health view of the
    * LSH banding that every query in this family rides: per (band,
    * occupancy) the number of buckets at that occupancy, the candidate
    * pairs those buckets generate (`occ·(occ−1)/2` each — the quantity
    * the [[MaxBucket]] cap bounds), and whether the cap would drop
    * them. At 100 TB this is the report run BEFORE trusting a banding
    * config: a fat tail here (boilerplate shingles, templated text)
    * means quadratic candidate work, and the fix — more rows per band,
    * a cap, or shingle salting — is chosen from exactly this
    * distribution. Occupancy 1 rows (the vast majority of buckets —
    * they generate no candidates) are reported too: the singleton
    * fraction is the recall-side health signal (an index that is ALL
    * singletons matches nothing). Output is bounded by the number of
    * distinct occupancies per band (tens of rows), never corpus-sized;
    * integer DIV keeps the pair counts exact int64 in both engines. */
  def lshBucketAudit(spark: SparkSession, dir: String): DataFrame =
    cachedCorpusBands(spark, dir)
      .groupBy("band", "sig")
      .agg(count(lit(1)).as("occupancy"))
      .groupBy("band", "occupancy")
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("band"), col("occupancy"), col("n_buckets"),
        expr("occupancy * (occupancy - 1) DIV 2 * n_buckets")
          .as("candidate_pairs"),
        (col("occupancy") > MaxBucket).as("over_cap"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (dedupExact _),
    "lsh_bucket_audit" -> (lshBucketAudit _),
    "minhash_recall" -> (minhashRecall _),
    "dedup_exact_sha" -> (dedupExactSha _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_normalized" -> (dedupNormalized _),
    "fuzzy_match_prefix" -> (fuzzyMatchPrefix _),
    "substring_dup_stats" -> (substringDupStats _),
    "substring_dup_scrub" -> (substringDupScrub _),
    "substring_dup_stats_hashed" -> (substringDupStatsHashed _),
    "ngram_jaccard" -> (ngramJaccard _),
    // NOTE: the declared query maps to the UNcached builder so its
    // bench timing always measures the real pipeline — query-map
    // iteration order must not decide which query absorbs the cost.
    // The memoized cachedMinhashPairs frame is for downstream
    // consumers (components, training selection) only.
    "minhash_neardup" -> (minhashNeardup _),
    "minhash_neardup_slice" -> (minhashNeardupSlice _),
    "minhash_incremental" -> (minhashIncremental _),
    "shingle_containment" -> (shingleContainment _),
    "shingle_containment_slice" -> (shingleContainmentSlice _),
    "neardup_clusters" -> (neardupClusters _),
    "neardup_clusters_slice" -> (neardupClustersSlice _),
    "neardup_clusters_bigstar" -> (neardupClustersBigstar _),
    "neardup_clusters_bigstar_slice" -> (neardupClustersBigstarSlice _),
    "simhash" -> (simhash _),
    "embedding_neardup" -> (embeddingNeardup _))

  /** CTE list of the shared minhash prefix (shingles → signatures →
    * bands) — every banded-candidate oracle builds on these.
    *
    * `sh`/`bands` are `AS MATERIALIZED` and that is LOAD-BEARING at
    * the scale rungs: DuckDB inlines plain CTEs per reference, and
    * the slice oracles reference `bands` four times (probe buckets,
    * occupancy census, both candidate sides) — four concurrent
    * replays of the full signature hash-agg (the ~n·shingles·32-row
    * cross product) blew past 70 GB of spill disk at sf10 where ONE
    * pass needs none (the r13 gate measured the materialized form at
    * 113 s / zero spill vs ENOSPC at 28 min). Every downstream
    * reference now reads the ~n·8-row band table instead. */
  private[graft] val sigBandsCtes =
    s"""sh AS MATERIALIZED ($docShinglesSql),
       |ex AS (SELECT doc_id,
       |              CAST(('0x' || substring(md5(unnest(sh)), 1, 15)) AS BIGINT) % $P AS h
       |       FROM sh),
       |sig AS (SELECT doc_id, i,
       |               min(((2654435761 * (i+1)) % $P * h + (1013904223 * (i+1)) % $P) % $P) AS minh
       |        FROM ex, range(0, $NumHashes) r(i) GROUP BY doc_id, i),
       |bands AS MATERIALIZED (SELECT doc_id, CAST(i // $BandRows AS INT) AS band,
       |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bsig
       |          FROM sig GROUP BY 1, 2)""".stripMargin

  /** Self-join candidates + exact intersection counts — the shared
    * middle of the Jaccard and containment oracles. */
  // capb replays the ENGINE's MaxBucket occupancy cap
  // ([[minhashCandidates]] drops buckets with > MaxBucket members
  // before pair expansion). Through r14 the oracle self-join was
  // uncapped — a LATENT divergence: it hash-matched only because no
  // gated corpus holds an over-cap (band, bsig) bucket (the
  // lsh_bucket_audit census pins over_cap = 0 at every certified
  // rung), and the first rung with a hot boilerplate bucket would
  // have surfaced it as a red row on the whole pair/cluster family.
  // Capped, the oracle certifies the semantics the engine ships.
  private val candInterCtes =
    s"""$sigBandsCtes,
       |capb AS (SELECT band, bsig FROM bands
       |         GROUP BY band, bsig HAVING count(*) <= $MaxBucket),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM bands a
       |         JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
       |                     AND a.doc_id < b.doc_id
       |         JOIN capb ON capb.band = a.band AND capb.bsig = a.bsig),
       |n AS (SELECT doc_id, len(sh) AS n FROM sh),
       |inter AS (SELECT d1, d2, count(*) AS c
       |          FROM cand JOIN (SELECT doc_id, unnest(sh) AS s FROM sh) e1 ON e1.doc_id = d1
       |                    JOIN (SELECT doc_id, unnest(sh) AS s FROM sh) e2 ON e2.doc_id = d2
       |          WHERE e1.s = e2.s GROUP BY 1, 2)""".stripMargin

  /** CTE list of the full minhash pipeline (… → verified pairs) — the
    * shared prefix of the `minhash_neardup` oracle and the
    * component-resolution oracles. */
  // pairs AS MATERIALIZED is load-bearing for the CLUSTER oracles:
  // componentCtes references pairs four times (nodes twice, edges
  // twice), and DuckDB's per-reference CTE inlining replays the whole
  // cand/inter verify pipeline each time — minhash_neardup (one
  // reference) completed its sf3 chunk while neardup_clusters (same
  // prefix, four references) ENOSPC'd past 70 GB in the same r14 gate
  // run. Materialized, inter runs once and the label rounds read a
  // narrow pair list.
  private val minhashCtes =
    s"""$candInterCtes,
       |pairs AS MATERIALIZED (SELECT d1, d2,
       |       round(CAST(c AS DOUBLE)/(n1.n + n2.n - c), 6) AS jaccard
       |FROM inter
       |JOIN n n1 ON n1.doc_id = d1
       |JOIN n n2 ON n2.doc_id = d2
       |WHERE CAST(c AS DOUBLE)/(n1.n + n2.n - c) >= 0.5)""".stripMargin

  private val minhashNeardupSql =
    s"WITH $minhashCtes\nSELECT d1, d2, jaccard FROM pairs"

  /** Probe-sliced candidates + verify — the linear-at-any-SF oracle
    * prefix of the `*_slice` pair twins: candidates come from
    * probe-hit buckets only (one side of the bucket join is the probe
    * band rows), the occupancy cap is computed over those WHOLE
    * buckets (equal to the global census by the semi-join argument in
    * [[slicedCandidates]]), and the verify join runs over the bounded
    * pair list — never the Σf² full self-join that exhausted DuckDB's
    * spill disk at sf10. The verify explodes (`cex`)
    * are RESTRICTED to candidate docs and materialized: an inline
    * full-corpus explode per side leaves DuckDB free to misorder the
    * e1⋈e2 shingle-equality join ahead of the doc restriction, and
    * its estimate-free inlined-CTE replay of the signature pipeline
    * per reference is what ENOSPC'd at sf10. */
  private val slicePairCtes =
    s"""$sigBandsCtes,
       |prb AS (SELECT greatest(1, count(*) // $RecallProbes) AS e FROM documents),
       |pbk AS (SELECT DISTINCT band, bsig FROM bands
       |        WHERE doc_id % (SELECT e FROM prb) <= 1),
       |occ AS (SELECT band, bsig, count(*) AS occ
       |        FROM bands JOIN pbk USING (band, bsig)
       |        GROUP BY band, bsig),
       |cand AS MATERIALIZED (SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
       |                greatest(a.doc_id, b.doc_id) AS d2
       |         FROM bands a
       |         JOIN occ o ON o.band = a.band AND o.bsig = a.bsig
       |                   AND o.occ <= $MaxBucket
       |         JOIN bands b ON b.band = a.band AND b.bsig = a.bsig
       |                     AND b.doc_id <> a.doc_id
       |         WHERE a.doc_id % (SELECT e FROM prb) <= 1),
       |n AS (SELECT doc_id, len(sh) AS n FROM sh),
       |cdoc AS (SELECT d1 AS doc_id FROM cand UNION SELECT d2 AS doc_id FROM cand),
       |cex AS MATERIALIZED (SELECT doc_id, unnest(sh) AS s FROM sh JOIN cdoc USING (doc_id)),
       |inter AS (SELECT d1, d2, count(*) AS c
       |          FROM cand JOIN cex e1 ON e1.doc_id = d1
       |                    JOIN cex e2 ON e2.doc_id = d2
       |          WHERE e1.s = e2.s GROUP BY 1, 2)""".stripMargin

  /** The cluster slices' oracle: per-probe component membership via
    * FRONTIER-UNROLLED closure over verified near-dup edges — edges
    * are computed ON DEMAND for each round's frontier (bands bucket
    * join under the [[MaxBucket]] cap + exact-Jaccard verify), so the
    * working set is bounded by the probes' components, never the
    * corpus pair graph. [[ComponentOracleRounds]] rounds, same red-row
    * contract as the full resolution's unroll: an insufficient unroll
    * shows up as a wrong min-label/size, never a silent pass. Each
    * round's verify explode (`cdx$i`) is restricted to that round's
    * candidate docs (the [[slicePairCtes]] `cex` discipline — a full
    * materialized corpus explode probed per round both costs a
    * corpus-sized build and invites the e1⋈e2 shingle-join misorder).
    * Output = the full query's rows for probe docs (label = component
    * min id, size = component member count; probes in no pair emit
    * nothing). */
  // lazy: references ComponentOracleRounds, declared later in the file
  private lazy val clustersSliceOracleSql = {
    val rounds = (1 to ComponentOracleRounds).map { i =>
      s"""cnd$i AS MATERIALIZED (
         |  SELECT DISTINCT f.p, f.d AS d1, b2.doc_id AS d2
         |  FROM f${i - 1} f
         |  JOIN bands b1 ON b1.doc_id = f.d
         |  JOIN okb o ON o.band = b1.band AND o.bsig = b1.bsig
         |  JOIN bands b2 ON b2.band = b1.band AND b2.bsig = b1.bsig
         |              AND b2.doc_id <> f.d),
         |cdx$i AS MATERIALIZED (
         |  SELECT doc_id, unnest(sh) AS s FROM sh
         |  JOIN (SELECT d1 AS doc_id FROM cnd$i
         |        UNION SELECT d2 FROM cnd$i) cd$i USING (doc_id)),
         |ver$i AS MATERIALIZED (
         |  SELECT v.p, v.d2 FROM (
         |    SELECT c.p, c.d1, c.d2, count(*) AS ci
         |    FROM cnd$i c
         |    JOIN cdx$i ea ON ea.doc_id = c.d1
         |    JOIN cdx$i eb ON eb.doc_id = c.d2 AND eb.s = ea.s
         |    GROUP BY 1, 2, 3) v
         |  JOIN n n1 ON n1.doc_id = v.d1
         |  JOIN n n2 ON n2.doc_id = v.d2
         |  WHERE CAST(v.ci AS DOUBLE)/(n1.n + n2.n - v.ci) >= 0.5),
         |r$i AS MATERIALIZED (
         |  SELECT p, d FROM r${i - 1} UNION SELECT p, d2 FROM ver$i),
         |f$i AS MATERIALIZED (
         |  SELECT p, d FROM r$i EXCEPT SELECT p, d FROM r${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH $sigBandsCtes,
       |prb AS (SELECT greatest(1, count(*) // $RecallProbes) AS e FROM documents),
       |okb AS (SELECT band, bsig FROM bands GROUP BY band, bsig
       |        HAVING count(*) <= $MaxBucket),
       |n AS (SELECT doc_id, len(sh) AS n FROM sh),
       |r0 AS (SELECT doc_id AS p, doc_id AS d FROM documents
       |       WHERE doc_id % (SELECT e FROM prb) <= 1),
       |f0 AS (SELECT p, d FROM r0),
       |$rounds
       |SELECT p AS doc_id, min(d) AS cluster_id,
       |       count(DISTINCT d) AS cluster_size
       |FROM r$ComponentOracleRounds
       |GROUP BY p HAVING count(DISTINCT d) > 1""".stripMargin
  }

  /** Rounds of the oracle's unrolled min-label propagation. The Spark
    * side iterates to FIXPOINT; the oracle's fixed unroll matches it
    * whenever every node is within this many hops of its component's
    * min-id node. Near-dup components are dup-family near-cliques
    * (diameter 1–2); 16 is a wide margin, and an insufficient unroll
    * shows up as a RED row (label mismatch), never a silent pass. */
  private[graft] val ComponentOracleRounds = 16

  /** Connected components over the minhash pair list as UNROLLED
    * min-label propagation — the same algorithm the Spark side runs
    * ([[graft.operators.ConnectedComponents]]), one materialized
    * n-row label frame per round. A recursive-CTE transitive closure
    * (`reach(n, l)` = "label l reaches n") would hold Σ K² rows per
    * K-node component — at sf3 the dup-family components grow to
    * thousands of docs and the reach table spilled DuckDB past 70 GB
    * of temp disk. Label propagation carries one row per node per
    * round instead. `AS MATERIALIZED` is load-bearing: each round
    * references the previous twice, and DuckDB's CTE inlining would
    * otherwise double the plan per round (2^rounds blowup). Ends with
    * comp(doc_id, cluster_id) open for a caller-appended SELECT. */
  private[graft] val componentCtes = {
    val rounds = (1 to ComponentOracleRounds).map { i =>
      s"""lp$i AS MATERIALIZED (
         |  SELECT nd, min(l) AS l FROM (
         |    SELECT nd, l FROM lp${i - 1}
         |    UNION ALL
         |    SELECT e.t AS nd, p.l FROM lp${i - 1} p JOIN edges e ON e.s = p.nd) u
         |  GROUP BY nd)""".stripMargin
    }.mkString(",\n")
    s"""WITH $minhashCtes,
       |nodes AS (SELECT d1 AS nd FROM pairs UNION SELECT d2 FROM pairs),
       |edges AS MATERIALIZED (SELECT d1 AS s, d2 AS t FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |lp0 AS (SELECT nd, nd AS l FROM nodes),
       |$rounds,
       |comp AS (SELECT nd AS doc_id, l AS cluster_id FROM lp$ComponentOracleRounds)""".stripMargin
  }

  /** Shared by `neardup_clusters` and `neardup_clusters_bigstar`: the
    * two resolution modes must agree exactly, so they share one oracle. */
  private val clustersOracleSql =
    s"""$componentCtes
       |SELECT c.doc_id, c.cluster_id, s.cluster_size
       |FROM comp c
       |JOIN (SELECT cluster_id, count(*) AS cluster_size
       |      FROM comp GROUP BY cluster_id) s USING (cluster_id)""".stripMargin

  private val substringDupScrubSql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split(text, ' '), x -> x <> '') AS ts
       |  FROM documents),
       |wins AS (
       |  SELECT doc_id, i, array_to_string(ts[i:i+${WinTokens - 1}], ' ') AS w
       |  FROM toks, LATERAL unnest(generate_series(1, len(ts) - ${WinTokens - 1})) t(i)
       |  WHERE len(ts) >= $WinTokens),
       |dup AS (SELECT w FROM (
       |          SELECT w, count(DISTINCT doc_id) AS nd FROM wins GROUP BY w) x
       |        WHERE nd > 1),
       |cov AS (SELECT DISTINCT doc_id, p
       |        FROM wins JOIN dup USING (w),
       |             LATERAL unnest(generate_series(i, i + ${WinTokens - 1})) c(p)),
       |drp AS (SELECT doc_id, count(*) AS n_dropped FROM cov GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
       |       coalesce(d.n_dropped, 0) AS n_dropped,
       |       CAST(len(t.ts) AS BIGINT) - coalesce(d.n_dropped, 0) AS n_kept,
       |       CASE WHEN len(t.ts) = 0 THEN 1.0
       |            ELSE round(CAST(len(t.ts) - coalesce(d.n_dropped, 0) AS DOUBLE)
       |                       / len(t.ts), 6) END AS kept_frac
       |FROM toks t LEFT JOIN drp d USING (doc_id)""".stripMargin

  private val substringDupStatsSql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |wins AS (
      |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+7], ' ') AS w
      |  FROM toks, LATERAL unnest(generate_series(1, len(ts) - 7)) t(i)
      |  WHERE len(ts) >= 8),
      |cnt AS (SELECT w, count(*) AS nd FROM wins GROUP BY w)
      |SELECT doc_id, count(*) AS n_windows,
      |       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
      |       round(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 6) AS dup_frac
      |FROM wins JOIN cnt USING (w)
      |GROUP BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT lang, count(*) AS n_survivors
        |FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        |GROUP BY lang""".stripMargin,
    "lsh_bucket_audit" ->
      s"""WITH $sigBandsCtes,
         |occ AS (SELECT band, bsig, count(*) AS occupancy
         |        FROM bands GROUP BY 1, 2)
         |SELECT band, occupancy, count(*) AS n_buckets,
         |       occupancy * (occupancy - 1) // 2 * count(*) AS candidate_pairs,
         |       occupancy > $MaxBucket AS over_cap
         |FROM occ GROUP BY band, occupancy""".stripMargin,
    "dedup_exact_sha" ->
      """SELECT lang, count(*) AS n_survivors
        |FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256(text))
        |GROUP BY lang""".stripMargin,
    // truth = exact probe-restricted Jaccard; candidates = the
    // production banding under the SAME occupancy cap — the oracle
    // derives the probe stride from COUNT(*) exactly like the Spark
    // side's recallEvery(docCount). The probe restriction is applied
    // as an explicit MATERIALIZED probe-side frame BEFORE the shingle
    // self-join, not as a WHERE the optimizer may or may not push
    // below it: left as a post-join filter the a-side is the FULL
    // Σdf² explode — at sf3 (150k docs, cross-copy near-dup families)
    // that spilled past 70 GB where the probe-side frame is ~64 docs
    // (the r13 "restrict the verify explodes to candidate docs"
    // lesson, applied to the truth side).
    "minhash_recall" ->
      s"""WITH $sigBandsCtes,
         |prb AS (SELECT greatest(1, count(*) // $RecallProbes) AS e FROM documents),
         |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
         |exs AS MATERIALIZED (SELECT doc_id, unnest(sh) AS s FROM sh),
         |pexs AS MATERIALIZED (SELECT exs.* FROM exs, prb
         |        WHERE exs.doc_id % prb.e = 0),
         |tp AS (SELECT a.doc_id AS p, b.doc_id AS d, count(*) AS c
         |       FROM pexs a JOIN exs b ON a.s = b.s AND a.doc_id <> b.doc_id
         |       GROUP BY 1, 2),
         |truep AS (SELECT p, d FROM tp
         |          JOIN sz s1 ON s1.doc_id = p
         |          JOIN sz s2 ON s2.doc_id = d
         |          WHERE CAST(c AS DOUBLE)/(s1.n + s2.n - c) >= 0.5),
         |ok AS (SELECT band, bsig FROM bands
         |       GROUP BY band, bsig HAVING count(*) <= $MaxBucket),
         |pbands AS (SELECT bands.* FROM bands, prb
         |           WHERE bands.doc_id % prb.e = 0),
         |cand AS (SELECT DISTINCT a.doc_id AS p, b.doc_id AS d
         |         FROM pbands a
         |         JOIN bands b ON b.band = a.band AND b.bsig = a.bsig
         |                     AND b.doc_id <> a.doc_id
         |         JOIN ok ON ok.band = a.band AND ok.bsig = a.bsig),
         |tru AS (SELECT p, count(*) AS n_true FROM truep GROUP BY p),
         |fnd AS (SELECT p, count(*) AS n_found
         |        FROM truep JOIN cand USING (p, d) GROUP BY p)
         |SELECT t.p AS probe_id, t.n_true,
         |       CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found,
         |       round(CAST(coalesce(f.n_found, 0) AS DOUBLE) / t.n_true, 6) AS recall
         |FROM tru t LEFT JOIN fnd f USING (p)""".stripMargin,
    "dedup_incremental" ->
      """SELECT min_id AS doc_id FROM (
        |  SELECT text, min(doc_id) AS min_id FROM documents
        |  WHERE doc_id % 2 = 1 GROUP BY text) b
        |WHERE NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id % 2 = 0 AND c.text = b.text)""".stripMargin,
    "dedup_normalized" ->
      """WITH n AS (
        |  SELECT doc_id, lang,
        |         trim(regexp_replace(
        |           regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
        |           ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT lang, count(*) AS n_survivors
        |FROM n
        |WHERE doc_id IN (SELECT min(doc_id) FROM n GROUP BY norm)
        |GROUP BY lang""".stripMargin,
    // The hot-block cap is PART of the certified semantics: the blk
    // CTE replays MaxBlock exactly, so the oracle matches at every SF
    // (through round 6 the SQL was deliberately uncapped — no test
    // corpus tripped the cap — but the r7 sf1 corpus holds a
    // 1650-doc boilerplate block, which surfaced the divergence as a
    // red row; encoding the cap certifies the implemented contract
    // instead of waiving it). DedupSpec still pins the cap's
    // drop-the-block behavior on a synthetic hot block.
    "fuzzy_match_prefix" ->
      s"""WITH blk AS (SELECT substring(text, 1, 8) AS b, count(*) AS n
         |            FROM documents GROUP BY 1)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |       CAST(levenshtein(substring(a.text, 1, 40),
         |                        substring(b.text, 1, 40)) AS BIGINT) AS lev
         |FROM documents a JOIN documents b
         |  ON substring(a.text, 1, 8) = substring(b.text, 1, 8)
         | AND a.doc_id < b.doc_id
         |JOIN blk ON blk.b = substring(a.text, 1, 8)
         |WHERE blk.n <= $MaxBlock
         |  AND levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) <= 5""".stripMargin,
    "substring_dup_stats" -> substringDupStatsSql,
    "substring_dup_scrub" -> substringDupScrubSql,
    // the hashed twin's oracle IS the string-form SQL: identical output
    // unless a 60-bit window-hash collision merges two windows (~1e-7
    // at sf0.1) — so hash fidelity is continuously verified, not assumed
    "substring_dup_stats_hashed" -> substringDupStatsSql,
    "ngram_jaccard" ->
      s"""WITH sh AS ($docShinglesSql),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |n AS (SELECT doc_id, len(sh) AS n FROM sh),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
         |          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT d1, d2,
         |       round(CAST(c AS DOUBLE)/(n1.n + n2.n - c), 6) AS jaccard
         |FROM inter
         |JOIN n n1 ON n1.doc_id = d1
         |JOIN n n2 ON n2.doc_id = d2
         |WHERE CAST(c AS DOUBLE)/(n1.n + n2.n - c) >= 0.5""".stripMargin,
    "minhash_neardup" -> minhashNeardupSql,
    "minhash_neardup_slice" ->
      s"""WITH $slicePairCtes
         |SELECT d1, d2,
         |       round(CAST(c AS DOUBLE)/(n1.n + n2.n - c), 6) AS jaccard
         |FROM inter
         |JOIN n n1 ON n1.doc_id = d1
         |JOIN n n2 ON n2.doc_id = d2
         |WHERE CAST(c AS DOUBLE)/(n1.n + n2.n - c) >= 0.5""".stripMargin,
    "shingle_containment_slice" ->
      s"""WITH $slicePairCtes
         |SELECT d1, d2,
         |       round(CAST(c AS DOUBLE)/least(n1.n, n2.n), 6) AS containment
         |FROM inter
         |JOIN n n1 ON n1.doc_id = d1
         |JOIN n n2 ON n2.doc_id = d2
         |WHERE CAST(c AS DOUBLE)/least(n1.n, n2.n) >= $ContainmentThreshold""".stripMargin,
    "neardup_clusters_slice" -> clustersSliceOracleSql,
    // the alternating-star and stored-artifact modes must land on the
    // identical probe rows — one slice oracle serves all three
    "neardup_clusters_bigstar_slice" -> clustersSliceOracleSql,
    "shingle_containment" ->
      s"""WITH $candInterCtes
         |SELECT d1, d2,
         |       round(CAST(c AS DOUBLE)/least(n1.n, n2.n), 6) AS containment
         |FROM inter
         |JOIN n n1 ON n1.doc_id = d1
         |JOIN n n2 ON n2.doc_id = d2
         |WHERE CAST(c AS DOUBLE)/least(n1.n, n2.n) >= $ContainmentThreshold""".stripMargin,
    "minhash_incremental" ->
      s"""WITH $sigBandsCtes,
         |cand AS (SELECT DISTINCT b.doc_id AS dn, a.doc_id AS dc
         |         FROM bands b JOIN bands a
         |           ON a.band = b.band AND a.bsig = b.bsig
         |        WHERE b.doc_id % 2 = 1 AND a.doc_id % 2 = 0),
         |n AS (SELECT doc_id, len(sh) AS n FROM sh),
         |inter AS (SELECT dn, dc, count(*) AS c
         |          FROM cand JOIN (SELECT doc_id, unnest(sh) AS s FROM sh) e1 ON e1.doc_id = dn
         |                    JOIN (SELECT doc_id, unnest(sh) AS s FROM sh) e2 ON e2.doc_id = dc
         |          WHERE e1.s = e2.s GROUP BY 1, 2),
         |matched AS (SELECT DISTINCT dn FROM inter
         |            JOIN n n1 ON n1.doc_id = dn
         |            JOIN n n2 ON n2.doc_id = dc
         |            WHERE CAST(c AS DOUBLE)/(n1.n + n2.n - c) >= 0.5)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT dn FROM matched)""".stripMargin,
    "neardup_clusters" -> clustersOracleSql,
    // the alternating-star mode must land on the identical clustering
    "neardup_clusters_bigstar" -> clustersOracleSql,
    "simhash" ->
      s"""WITH t AS (SELECT doc_id,
         |                  unnest(list_filter(string_split(text,' '), w -> w <> '')) AS w
         |           FROM documents),
         |h AS (SELECT doc_id,
         |             CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) AS h
         |      FROM t),
         |bits AS (SELECT doc_id, j, SUM(((h >> j) & 1) * 2 - 1) AS s
         |         FROM h, range(0, $SimBits) r(j) GROUP BY doc_id, j)
         |SELECT doc_id,
         |       CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id""".stripMargin,
    "embedding_neardup" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.35""".stripMargin)
}

/** Elementwise-min MinHash signature aggregator: input is the 60-bit
  * base hash of one shingle; the buffer is the running k-vector of mins
  * under the (a_i·h + b_i) mod 2^31−1 permutation family. Partial
  * (map-side) merges are elementwise min, so a doc's shingles never
  * shuffle — only its k-long signature does. */
class MinSig(k: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
  def zero: Array[Long] = Array.fill(k)(Long.MaxValue)
  def reduce(buf: Array[Long], h: Long): Array[Long] = {
    var i = 0
    while (i < k) {
      val v = (Dedup.hashA(i) * h + Dedup.hashB(i)) % Dedup.P
      if (v < buf(i)) buf(i) = v
      i += 1
    }
    buf
  }
  def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
    x
  }
  def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
  def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

/** SimHash aggregator: input is a token's 60-bit hash; the buffer holds
  * per-bit ±1 sums; finish folds the sign vector into the 60-bit
  * signature. Same shuffle shape as [[MinSig]]: one row per doc. */
class SimHashAgg(bits: Int) extends Aggregator[Long, Array[Long], Long] {
  def zero: Array[Long] = Array.fill(bits)(0L)
  def reduce(buf: Array[Long], h: Long): Array[Long] = {
    var j = 0
    while (j < bits) { buf(j) += ((h >> j) & 1L) * 2 - 1; j += 1 }
    buf
  }
  def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var j = 0
    while (j < bits) { x(j) += y(j); j += 1 }
    x
  }
  def finish(buf: Array[Long]): Long = {
    var s = 0L; var j = 0
    while (j < bits) { if (buf(j) > 0) s |= 1L << j; j += 1 }
    s
  }
  def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Long] = Encoders.scalaLong
}
