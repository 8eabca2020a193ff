package graft.similarity

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.{SessionCaches, Tables}
import graft.operators.WordCount

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Every probe search has three steps: pick each probe's candidates,
  * score them by cosine, keep each probe's top k. Only the first step
  * differs between methods; the other two are one helper each:
  *  - [[probeSide]] and [[cosine]]: the broadcast probe frame and the
  *    one cosine column every search scores with;
  *  - [[topPerProbe]]: the one per-probe heap, a bounded
  *    [[graft.operators.BoundedTopK]] Aggregator with map-side partial
  *    merge, so the shuffle carries k rows per (partition, probe),
  *    never the full candidate score list.
  *
  * Candidate generation per method:
  *  - `similar_topk`: every vector (the exactness baseline);
  *  - `similar_ann_lsh`: the probe's random-hyperplane sign-LSH bucket
  *    ([[signBands]], 6 bits), a per-bucket equi-join instead of the
  *    quadratic scan;
  *  - `similar_ann_multiprobe`: that bucket and its Hamming-1
  *    neighbors;
  *  - `similar_ann_ivf` / `similar_ann_ivfpq`: the members of the
  *    probe's [[IvfProbeCells]] best coarse cells ([[ivfProbeCells]]),
  *    reranked exactly ([[rerank]]), IVF-PQ after an ADC shortlist.
  *
  * Determinism: cosine is dot/(√Σa²·√Σb²) with left-to-right double
  * folds (same arithmetic as the DuckDB oracle's list_dot_product);
  * hyperplane entries are ±1 from md5 parity — the Scala side
  * precomputes them driver-side with MessageDigest, the oracle derives
  * the identical values from DuckDB's md5. Ranking ties break on vec_id.
  */
object Similarity {

  val K = 5
  val NumProbes = 10
  /** 6 bits → 64 buckets: sized so buckets hold ~8 vectors at sf0.01
    * and ~30 at sf0.1. At production scale you'd raise bits with corpus
    * size (buckets ≈ n / desired-bucket-occupancy) and multi-probe
    * neighboring buckets; the plumbing is identical. */
  val LshBits = 6
  val Dim = 64

  /** The cosine at or above which two embeddings are near-duplicates:
    * the one rule of `embedding_neardup`, `embedding_neardup_lsh` and
    * `semdedup_prune` (the synthetic embeddings are near-orthogonal
    * outside their cluster structure; real text embeddings would sit
    * near 0.95). */
  val NeardupCosine = 0.35

  /** dot(a, b) as a left-to-right double fold — the native codegen'd
    * [[graft.functions.DotProductExpr]], not zip_with/aggregate lambdas
    * (Catalyst evaluates higher-order functions interpreted, ~10×
    * slower on 64-dim vectors) and no longer a Scala UDF (which boxed
    * every element into a Seq and broke whole-stage codegen at the call
    * site). Identical IEEE operation sequence throughout, so oracle
    * hashes are unchanged. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dot_product(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Hyperplane entry r(j, d) ∈ {−1, +1}: parity of the 60-bit md5
    * prefix of "j_d" — reproduced verbatim by the SQL oracle. The
    * prefix is the first 15 hex digits, so its parity is bit 4 of the
    * digest's byte 7. */
  def planeEntry(j: Int, d: Int): Double = {
    val md5 = MessageDigest.getInstance("MD5")
      .digest(s"${j}_$d".getBytes(StandardCharsets.UTF_8))
    if ((md5(7) & 0x10) == 0) 1.0 else -1.0
  }

  /** Hyperplanes of a `bands` × `bits` sign-LSH family: plane (k, j)
    * is [[planeEntry]](k·bits + j) — the global indexing the oracle
    * derives, so every bit width re-derives a consistent family. */
  private def planeTable(bands: Int, bits: Int): Array[Array[Array[Double]]] =
    Array.tabulate(bands, bits, Dim)((k, j, d) => planeEntry(k * bits + j, d))

  /** The ANN hyperplanes, planes 0 to [[LshBits]] − 1: band 0 of the
    * (1, [[LshBits]]) family. */
  lazy val planes: Seq[Seq[Double]] = planeTable(1, LshBits)(0).map(_.toSeq).toSeq

  private val signBandsUdfs =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), UserDefinedFunction]()

  /** The one sign-LSH kernel: every band's bucket of a (64-dim double)
    * vector column, bit j of band k set iff dot(v, plane(k, j)) > 0.
    * The plane table is built on the driver and rides in the closure;
    * each row pays one `v.toArray` copy and the [[dotA]] fold every
    * dot product in this module uses. One UDF per (bands, bits) per
    * JVM: building it (`udf`'s TypeTag reflection and the plane table)
    * costs driver time on every query build otherwise. */
  def signBands(bands: Int, bits: Int): UserDefinedFunction =
    signBandsUdfs.computeIfAbsent((bands, bits), _ => {
      val ps = planeTable(bands, bits)
      udf { (v: Seq[Double]) =>
        val a = v.toArray
        Array.tabulate(bands) { k =>
          var b = 0L; var j = 0
          while (j < bits) { if (dotA(a, ps(k)(j)) > 0) b |= 1L << j; j += 1 }
          b
        }
      }
    })

  /** The ANN bucket of `similar_ann_lsh` and `similar_ann_multiprobe`:
    * band 0 of the (1, [[LshBits]]) family. The element always exists,
    * so it is marked not-null: a bucket join would otherwise infer an
    * `isnotnull` filter that hashes every vector a second time. */
  private[graft] def lshBucket(v: Column): Column = GraftSqlBridge.column(KnownNotNull(
    GraftSqlBridge.expression(signBands(1, LshBits)(v).getItem(0))))

  /** `vecs` with one row per (vector, band): its [[NeardupBands]]
    * `bits`-wide buckets as (band, bucket). */
  private[graft] def banded(vecs: DataFrame, bits: Int): DataFrame =
    vecs.select(col("*"),
      posexplode(signBands(NeardupBands, bits)(col("v"))).as(Seq("band", "bucket")))

  /** Neighbor ranking order: sim desc, vec_id asc tie-break — shared by
    * every top-k aggregation in this module. */
  val neighborBetter: (Neighbor, Neighbor) => Boolean =
    (a, b) => a.sim > b.sim || (a.sim == b.sim && a.id < b.id)

  /** The one per-probe heap: each probe's best `k` of `scored`
    * (probe_id, neighbor_id, sim) rows under [[neighborBetter]], as
    * (probe_id, rank, neighbor_id, sim) with rank 0 the best. */
  private def topPerProbe(scored: DataFrame, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val top = new graft.operators.BoundedTopK[Neighbor](k, neighborBetter).toColumn
    scored.as[Scored]
      .groupByKey(_.probe_id)
      .mapValues(s => Neighbor(s.sim, s.neighbor_id))
      .agg(top.name("top"))
      .toDF("probe_id", "top")
      .select(col("probe_id"), posexplode(col("top")).as(Seq("rank", "n")))
      .select(col("probe_id"), col("rank"), col("n.id").as("neighbor_id"),
        col("n.sim").as("sim"))
  }

  /** A search's answer: each probe's top [[K]], sims rounded to 6
    * places. */
  private def topK(scored: DataFrame): DataFrame =
    topPerProbe(scored, K)
      .select(col("probe_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"))

  /** The probe frame: (probe_id, pv, pnrm) of the [[NumProbes]] probe
    * vectors of a (vec_id, v, nrm) frame, plus `extra` columns. */
  private def probeSide(vecs: DataFrame, extra: Column*): DataFrame =
    vecs.filter(col("vec_id") < NumProbes)
      .select(Seq(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm")) ++ extra: _*)

  /** The one cosine column: probe (pv, pnrm) against candidate (v, nrm). */
  private def cosine: Column = dot(col("pv"), col("v")) / (col("pnrm") * col("nrm"))

  /** The probe search's candidates and scores: every vector of `vecs`
    * where `on` holds against the broadcast `probes`, the probe itself
    * excluded, as (probe_id, neighbor_id, [[cosine]] sim). The big side
    * streams through one narrow pass and never shuffles. */
  private def probeScores(vecs: DataFrame, probes: DataFrame, on: Column): DataFrame =
    vecs.join(broadcast(probes), on && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), cosine.as("sim"))

  /** Session-memoized (vec_id, v, nrm) frame — the parquet scan, the
    * double-cast, and the norm computed once per (session, corpus)
    * instead of once per invocation: 14 call
    * sites across the ANN/kNN/quantization family each re-paid the
    * load-balance probe and the norm pass. */
  private def vectors(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.memo(spark, "similarity.vectors", dir) {
      // A persist of this frame made ann_recall's WARM reps slower than
      // cold at local[32] (13.3 s median vs 2.4 s at 8 cores) —
      // every consumer read the wide array<double> column through an
      // InMemoryTableScan columnar decode at the cache boundary, which
      // also breaks whole-stage codegen fusion into the dot-product
      // kernels, and the resident blocks competed with every sibling
      // memo for the unified region. The memo now shares the PLAN only:
      // re-reading 2 k embedding rows from parquet fuses into the
      // consumer's codegen and is cheaper than the cache round-trip at
      // every scale (the scan cost grows linearly; so does the decode).
      rawVectors(spark, dir).withColumn("nrm", norm(col("v")))
    }

  /** Exact top-k: every vector is a candidate. */
  def similarTopk(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir)
    topK(probeScores(vecs, probeSide(vecs), lit(true)))
  }

  /** ANN: candidates restricted to the probe's LSH bucket. The bucket
    * join replaces the all-pairs scan. */
  def similarAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir).withColumn("bucket", lshBucket(col("v")))
    val probes = probeSide(vecs, col("bucket").as("pbucket"))
    topK(probeScores(vecs, probes, col("bucket") === col("pbucket")))
  }

  /** Multi-probe ANN: each probe searches its own bucket PLUS every
    * bucket at Hamming distance 1 (flip one hyperplane sign) — the
    * production knob that lifts recall at CONSTANT bits. A near
    * neighbor falls in a different bucket exactly when some hyperplane
    * margin is small, and a small margin is precisely a single flipped
    * bit — so Hamming-1 probing recovers most single-plane misses for
    * (LshBits+1)× the candidate volume, instead of halving LshBits
    * (which would square bucket occupancy). The probe side explodes to
    * its LshBits+1 target buckets before the SAME broadcast bucket
    * equi-join as [[similarAnnLsh]]: probes are tiny, candidates never
    * shuffle, and each (probe, candidate) pair matches at most once
    * (a candidate has one bucket; the probed set is distinct). */
  def similarAnnMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(spark, dir).withColumn("bucket", lshBucket(col("v")))
    val neighborBuckets = (0 until LshBits)
      .map(j => col("pbucket").bitwiseXOR(lit(1L << j)))
    val probes = probeSide(vecs, col("bucket").as("pbucket"))
      .withColumn("target",
        explode(array(col("pbucket") +: neighborBuckets: _*)))
    topK(probeScores(vecs, probes, col("bucket") === col("target")))
  }

  /** [[similarTopk]]'s (probe, neighbor) id pairs, persisted and
    * memoized per (session, corpus): [[annRecall]] probes it once per
    * ANN variant and the materialized frame is only K·NumProbes rows —
    * the memo turns three corpus passes into one. */
  private def cachedExactTopk(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.persisted(spark, "similarity.exactTopk", dir) {
      similarTopk(spark, dir).select("probe_id", "neighbor_id")
    }

  /** Recall@[[K]] of every ANN variant against the exact top-k scan —
    * the certification number that decides whether an approximate
    * index is SERVABLE. A 100 TB corpus can never audit recall
    * exhaustively; what production does is exactly this query at a
    * probe sample: exact top-K for [[NumProbes]] probes (one linear
    * broadcast pass), each ANN variant's answer for the same probes,
    * and the per-(probe, method) hit count. Composes the
    * already-certified query frames, so the counts inherit their
    * determinism (both sides are tie-broken id sets). A probe whose
    * LSH bucket is empty still gets its row (left join from the probe
    * census, found = 0) — dropping it would read as perfect recall.
    * Candidate-set monotonicity (multiprobe's buckets ⊇ lsh's ⇒
    * per-probe found never drops) is spec-pinned. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = cachedExactTopk(spark, dir)
    val probes = exact.select("probe_id").distinct()
    def one(method: String, ann: DataFrame): DataFrame = {
      val hits = exact
        .join(ann.select("probe_id", "neighbor_id"),
          Seq("probe_id", "neighbor_id"), "left_semi")
        .groupBy("probe_id").agg(count(lit(1)).as("found"))
      probes.join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), lit(method).as("method"),
          coalesce(col("found"), lit(0L)).as("found"))
    }
    one("lsh", similarAnnLsh(spark, dir))
      .union(one("multiprobe", similarAnnMultiprobe(spark, dir)))
      .union(one("ivf", similarAnnIvf(spark, dir)))
      .union(one("ivfpq", similarAnnIvfPq(spark, dir)))
      .select(col("probe_id"), col("method"), col("found"),
        round(col("found").cast("double") / K, 6).as("recall"))
  }

  /** IVF coarse-quantizer size FLOOR: the cell list a probe searches.
    * The effective C for a corpus is [[cellsFor]] — see below. */
  val IvfCells = 16
  val IvfProbeCells = 2

  /** Target members per trained cell. Cell count grows with the corpus
    * (C = n / target) so per-cell work stays CONSTANT as n grows — the
    * knob that keeps [[semdedupPrune]]'s within-cell pairwise pass
    * linear in n (the SemDeDup paper's own C-scaling) and IVF cell
    * scan cost flat. */
  val TargetCellSize = 4096

  /** Effective coarse-quantizer size for an n-vector corpus:
    * max([[IvfCells]], n / [[TargetCellSize]]). Identity (= 16) for
    * every corpus up to 65k vectors — all oracle-gated SFs — so the
    * DuckDB replays stay bit-exact; from sf10 up the cell count climbs
    * and within-cell pair work stops growing quadratically. The oracle
    * SQL computes the SAME expression from COUNT(*), so the replay
    * contract survives the scaling. */
  def cellsFor(n: Long): Int =
    math.max(IvfCells.toLong, n / TargetCellSize).toInt

  /** [[cellsFor]] of the corpus under `dir` — rides the shared
    * [[vecCount]] memo (one count job per session+corpus for the IVF
    * family AND the kNN-graph bits ladder). */
  def ivfCellCount(spark: SparkSession, dir: String): Int =
    cellsFor(vecCount(spark, dir))

  /** Lloyd iterations for centroid training. Fixed count (not an
    * epsilon test): the DuckDB oracle replays the identical iterations,
    * so the loop shape must be static. */
  val IvfIters = 5

  /** Training-sample budget per coarse cell (the FAISS guidance:
    * ≥39·k points to train k centroids, 256·k ideal). IVF and PQ
    * training read only a deterministic sample of ≈
    * `TrainPointsPerCell · cellsFor(n)` vectors; the full corpus is
    * touched by nothing but the final assignment/encode pass. At 100 TB
    * that is the difference between an overnight index build
    * ([[IvfIters]]+[[PqIters]] full corpus passes) and a lunchtime one
    * (bounded training + ONE scoring pass). */
  val TrainPointsPerCell = 256

  /** Sampling stride for an n-vector corpus: every vector whose
    * [[trainSampleCond]] hash lands on 0 mod this trains. 1 (identity —
    * bit-exact with unsampled training) through sf0.1; 4 at sf1, 16
    * from sf10 up (cells grow with n, so the stride SATURATES: the
    * sample stays a constant fraction 1/16 once C = n/[[TargetCellSize]]
    * binds, giving every cell its [[TrainPointsPerCell]] budget). The
    * oracle derives the SAME integer expression from COUNT(*). */
  def trainEvery(n: Long): Long =
    math.max(1L, n / (TrainPointsPerCell.toLong * cellsFor(n)))

  /** Deterministic content-hash membership for the training sample:
    * parity-of-md5 over the vec_id string (the [[planeEntry]] /
    * `train_eval_split` discipline, NOT a `vec_id % every` stride — a
    * stride aliases with id-assignment patterns; the hash is unbiased
    * under any id layout). 15 hex chars = 60 bits, exact in both
    * engines; DuckDB replays it verbatim. */
  private def trainSampleCond(every: Long): Column =
    if (every <= 1L) lit(true)
    else WordCount.fp60(col("vec_id").cast("string")) % every === 0

  /** Centroid means are computed over vectors quantized to
    * floor(x·10⁶) longs: LONG sums are exact and ASSOCIATIVE, so the
    * per-cell mean is independent of partition order — the one place
    * naive double sums would make k-means nondeterministic across runs
    * (and unmatchable by the oracle). Quantization error 1e-6 per
    * coordinate is far below the cluster structure scale. */
  val QuantScale = 1000000.0

  /** Algorithm-parameter fingerprint for IVF artifacts in
    * [[graft.IndexStore]]: changing any of these constants re-keys the
    * stored centroids so stale-parameter artifacts are never reused. */
  private[graft] def IvfIndexParams =
    s"dim=$Dim,cells=$IvfCells,iters=$IvfIters,q=$QuantScale,tpc=$TrainPointsPerCell"

  /** dot(a, b) as a left-to-right double fold over arrays — the
    * kernel twin of [[dot]], the one fold every driver- and
    * kernel-side dot product in the engine uses. */
  private[graft] def dotA(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** floor(x·[[QuantScale]]) per coordinate — the Long form every
    * Lloyd mean sums and every PQ error compares. */
  private def quantized(v: Array[Double]): Array[Long] = {
    val q = new Array[Long](v.length)
    var d = 0
    while (d < v.length) { q(d) = math.floor(v(d) * QuantScale).toLong; d += 1 }
    q
  }

  /** (vec_id, v) over the raw embedding column, cast to double. */
  private def rawVectors(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** A nearest-centroid election: given one centroid set, the function
    * electing a point's cell. Built once per partition, so per-centroid
    * state is computed once per broadcast, not once per point. */
  private type Election = Array[Array[Double]] => Array[Double] => Int

  /** Cosine election: argmax dot(v, c)/(‖v‖·‖c‖) over precomputed
    * centroid norms, strict `>` over ascending ids so ties keep the
    * lower id — the oracles' min-over-(−s, cid), bit-for-bit (same
    * [[dotA]] fold, same division). */
  private val cosineArgmax: Election = { cs =>
    val cn = cs.map(c => math.sqrt(dotA(c, c)))
    v => {
      val nv = math.sqrt(dotA(v, v))
      var best = 0; var bs = Double.NegativeInfinity; var j = 0
      while (j < cs.length) {
        val s = dotA(v, cs(j)) / (nv * cn(j))
        if (s > bs) { bs = s; best = j }
        j += 1
      }
      best
    }
  }

  /** Squared-L2 election: argmin [[sqDist]], strict `<`, ties keep the
    * lower id. */
  private val l2Argmin: Election = cs => s => {
    var best = 0; var bd = Double.PositiveInfinity; var j = 0
    while (j < cs.length) {
      val d2 = sqDist(s, cs(j))
      if (d2 < bd) { bd = d2; best = j }
      j += 1
    }
    best
  }

  /** Training rows: (group, id, point, quantized point). */
  private type Train = (Int, Long, Array[Double], Array[Long])

  /** The Lloyd loop every quantizer trains with — one map and one
    * reduce per round over persisted [[Train]] rows, each group with
    * its own centroids: broadcast the centroids → elect every row's
    * cell within its group → sum the QUANTIZED points and count per
    * (group, cell) in one keyed reduce (map-side partial merge: the
    * shuffle carries at most one row per cell per partition, never
    * vectors) → collect those rows and move each cell to its mean. A
    * cell that drew no row keeps its centroid. Long sums are exact and
    * associative, so the result is independent of partition order.
    * Returns the centroids and the total L1 movement of each round. */
  private def lloyd(spark: SparkSession, rows: Dataset[Train],
      seeds: Array[Array[Array[Double]]], iters: Int, elect: Election)
      : (Array[Array[Array[Double]]], Array[Double]) = {
    import spark.implicits._
    var cents = seeds
    val movements = Array.ofDim[Double](iters)
    for (iter <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val sums = rows.mapPartitions { it =>
        val electors = bc.value.map(elect)
        it.map { case (g, _, p, q) => ((g, electors(g)(p)), q, 1L) }
      }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val q = new Array[Long](a._2.length)
          var d = 0
          while (d < q.length) { q(d) = a._2(d) + b._2(d); d += 1 }
          (a._1, q, a._3 + b._3)
        }
        .collect()
      val next = cents.map(_.map(_.clone()))
      sums.foreach { case ((g, c), (_, q, n)) =>
        next(g)(c) = q.map(z => (z.toDouble / n) / QuantScale)
      }
      var move = 0.0
      for (g <- cents.indices; j <- cents(g).indices; d <- cents(g)(j).indices)
        move += math.abs(next(g)(j)(d) - cents(g)(j)(d))
      movements(iter) = move
      cents = next
      bc.unpersist()
    }
    (cents, movements)
  }

  /** Lowest-id seeds: the `k` lowest ids among group 0's rows (a
    * distributed TakeOrdered — only k ids reach the driver, never the
    * sample's id list), and their points in every one of `groups`
    * groups. Cell id = id rank, so over dense ids with every == 1 the
    * seeds are "the first k vectors, cell = vec_id". */
  private def lowestIdSeeds(spark: SparkSession, rows: Dataset[Train],
      groups: Int, k: Int, dir: String, every: Long): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val ids = rows.where(col("_1") === 0).select(col("_2").as("id"))
      .orderBy("id").limit(k).as[Long].collect()
    require(ids.length == k,
      s"training sample at $dir has only ${ids.length} vectors " +
        s"for $k seeds (every=$every)")
    seedPoints(rows, ids, groups)
  }

  /** The points of `ids`, per group, in id order. */
  private def seedPoints(rows: Dataset[Train], ids: Array[Long],
      groups: Int): Array[Array[Array[Double]]] = {
    val pts = rows.where(col("_2").isInCollection(ids)).collect()
    Array.tabulate(groups)(g => pts.filter(_._1 == g).sortBy(_._2).map(_._3))
  }

  /** The flat coarse quantizer: Lloyd's over the training sample as one
    * group of [[ivfCellCount]] cells, [[cosineArgmax]] election,
    * lowest-id seeds. Returns the centroids with the per-round
    * movement so SimilaritySpec can assert convergence. */
  private[graft] def trainIvfCentroidsWithTrace(
      spark: SparkSession, dir: String): (Array[Array[Double]], Array[Double]) = {
    val every = trainEvery(vecCount(spark, dir))
    val base = sampleBase(spark, dir, every)
    try {
      val seeds = lowestIdSeeds(spark, base, 1, ivfCellCount(spark, dir), dir, every)
      val (cents, moves) = lloyd(spark, base, seeds, IvfIters, cosineArgmax)
      (cents(0), moves)
    } finally { base.unpersist(); () }
  }

  /** The persisted training sample as group-0 [[Train]] rows: the
    * quantized vector is centroid-independent, so it is computed once
    * for all IvfIters+1 passes. SAMPLED: only the
    * [[trainEvery]]/[[trainSampleCond]] sample trains; the corpus is
    * scanned only by the final assignment pass ([[ivfAssign]]). */
  private def sampleBase(spark: SparkSession, dir: String, every: Long): Dataset[Train] = {
    import spark.implicits._
    SessionCaches.persist(rawVectors(spark, dir)
      .filter(trainSampleCond(every))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (0, id, v, quantized(v)) })
  }

  /** The deployed coarse quantizer's centroids, memoized per session
    * over a PERSISTED artifact: the first session to train a corpus's
    * IVF centroids publishes them as fingerprint-keyed parquet
    * (cid, centroid) and every later session reads C rows back instead
    * of retraining — doubles round-trip parquet losslessly, so stored
    * and fresh centroids are bit-identical. */
  def trainIvfCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    SessionCaches.memo(spark, "similarity.centroids", dir) {
      import spark.implicits._
      if (useHier(ivfCellCount(spark, dir)))
        hierState(spark, dir)._2.flatten
      else {
        val stored = graft.IndexStore.getOrBuild(spark, dir, "embeddings",
          "ivf_centroids", IvfIndexParams) {
          val trained = trainIvfCentroidsWithTrace(spark, dir)._1
          spark.createDataFrame(
            trained.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
            .toDF("cid", "centroid")
            .coalesce(1)
        }
        stored.as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
      }
    }

  // ---- two-level (hierarchical) coarse quantizer ----

  /** Cell count above which training/assignment go TWO-LEVEL. The flat
    * quantizer's training-sample assignment and [[ivfAssign]] kernel
    * are both O(n·C) = O(n²/[[TargetCellSize]]) with [[cellsFor]]
    * unbounded — measured linear-ish through sf100 (C = 488) but ~10¹³
    * dot products at 100× (n = 2×10⁸ → C ≈ 48 k). Above this
    * threshold the quantizer trains √C SUPERCLUSTERS, splits the cell
    * budget across them by sample mass, trains every group's cells in
    * one [[lloyd]] run (all groups per pass), and assigns via
    * supercluster-then-cell — n·(√C + C/√C)
    * work, the standard billion-scale FAISS move. 512 keeps every
    * certified rung (sf100 inclusive) on the BIT-STABLE flat path;
    * the hier path is certified by the S=1 equivalence spec (one
    * supercluster ⇒ bit-identical to flat) and the forced-hier sf100
    * A/B row in BASELINE.md. */
  val HierCellThreshold = 512

  private[graft] def useHier(numCells: Int): Boolean =
    numCells > HierCellThreshold

  private[graft] def superCountFor(numCells: Int): Int =
    math.ceil(math.sqrt(numCells.toDouble)).toInt

  /** Deterministic largest-deficit cell allocation: every supercluster
    * keeps ≥ 1 cell (a vector can be NEAREST a supercluster that
    * trained empty — its group must still have a cell to land in),
    * the rest go one at a time to the group whose sample-mass quota
    * is furthest ahead of its grant (ties → lower group id). */
  private[graft] def allocateCells(total: Int, sizes: Array[Long]): Array[Int] = {
    val s = sizes.length
    require(total >= s, s"cannot allocate $total cells across $s groups")
    val n = math.max(1L, sizes.sum).toDouble
    val quota = sizes.map(z => total * (z / n))
    val cells = Array.fill(s)(1)
    for (_ <- 0 until (total - s)) {
      var best = 0; var bd = Double.NegativeInfinity
      var g = 0
      while (g < s) {
        val d = quota(g) - cells(g)
        if (d > bd) { bd = d; best = g }
        g += 1
      }
      cells(best) += 1
    }
    cells
  }

  /** Train the two-level quantizer: (supercentroids S×Dim, per-group
    * cell centroids — global cid of group g's local cell j is
    * Σ_{h<g} cells_h + j). Stage 1 is [[lloyd]] over the sample as one
    * group of S cells. Stage 2 groups the sample by nearest supercluster
    * (one pass, persisted), allocates the C-cell budget by sample mass,
    * seeds each group with its lowest sampled ids (bounded heap per
    * group, ≤ C ids total on the driver; a group whose sample is
    * smaller than its budget pads with its supercentroid — duplicate
    * centroids are harmless under the strict-> election), and runs
    * [[lloyd]] over all S groups at once, so training costs IvfIters+1
    * sample passes per stage regardless of S. With
    * `superOverride = Some(1)` every stage degenerates to the flat
    * quantizer bit-for-bit (one group holding the whole sample, C
    * seeds = the C lowest ids) — the equivalence SimilaritySpec pins.
    * Also returns stage 2's per-round movement. */
  private[graft] def trainIvfCentroidsHierWithTrace(
      spark: SparkSession, dir: String, superOverride: Option[Int] = None)
      : (Array[Array[Double]], Array[Array[Array[Double]]], Array[Double]) = {
    import spark.implicits._
    val every = trainEvery(vecCount(spark, dir))
    val numCells = ivfCellCount(spark, dir)
    val s = superOverride.getOrElse(superCountFor(numCells))
    val base = sampleBase(spark, dir, every)
    try {
      val superCents = lloyd(spark, base, lowestIdSeeds(spark, base, 1, s, dir, every),
        IvfIters, cosineArgmax)._1(0)
      val bcS = spark.sparkContext.broadcast(superCents)
      val grouped = SessionCaches.persist(base.mapPartitions { it =>
        val nearest = cosineArgmax(bcS.value)
        it.map { case (_, id, v, q) => (nearest(v), id, v, q) }
      })
      try {
        val sizeArr = Array.fill(s)(0L)
        grouped.groupByKey(_._1).count().collect()
          .foreach { case (g, c) => sizeArr(g) = c }
        val cellsPer = allocateCells(numCells, sizeArr)
        val bcBudget = spark.sparkContext.broadcast(cellsPer)
        // per-group seed ids: bounded max-heap of the budget lowest —
        // ≤ C longs total cross the wire, never the sample id list
        val ids = grouped.map(t => (t._1, t._2)).groupByKey(_._1)
          .flatMapGroups { (g, it) =>
            val k = bcBudget.value(g)
            val pq = scala.collection.mutable.PriorityQueue.empty[Long]
            it.foreach { case (_, id) =>
              if (pq.size < k) pq.enqueue(id)
              else if (id < pq.head) { pq.dequeue(); pq.enqueue(id); () }
            }
            pq.iterator
          }.collect()
        val seeds = seedPoints(grouped, ids, s).zipWithIndex.map { case (own, g) =>
          own ++ Array.fill(cellsPer(g) - own.length)(superCents(g).clone())
        }
        val (cells, moves) = lloyd(spark, grouped, seeds, IvfIters, cosineArgmax)
        (superCents, cells, moves)
      } finally { grouped.unpersist(); () }
    } finally { base.unpersist(); () }
  }

  private[graft] def trainIvfCentroidsHier(
      spark: SparkSession, dir: String, superOverride: Option[Int] = None)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (sup, cells, _) = trainIvfCentroidsHierWithTrace(spark, dir, superOverride)
    (sup, cells)
  }

  /** Two-level assignment: ONE narrow pass, per vector the
    * [[cosineArgmax]] over the S supercentroids, then over that group's
    * cells — n·(S + C/S) dot products instead of the flat kernel's
    * n·C. Global cid = group offset + local cell. */
  private[graft] def ivfAssignHierOf(
      spark: SparkSession, dir: String,
      superCents: Array[Array[Double]],
      cells: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val offsets = cells.map(_.length).scanLeft(0)(_ + _)
    val bc = spark.sparkContext.broadcast((superCents, cells, offsets))
    rawVectors(spark, dir)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (sup, all, off) = bc.value
        val nearestGroup = cosineArgmax(sup)
        val nearestCell = all.map(cosineArgmax)
        it.map { case (id, v) =>
          val g = nearestGroup(v)
          (id, (off(g) + nearestCell(g)(v)).toLong)
        }
      }
      .toDF("vec_id", "cid")
  }

  /** Memoized + IndexStore-persisted two-level quantizer state for a
    * corpus: two fingerprint-keyed artifacts (supercentroids with
    * their groups' cell budgets; the flattened cell centroids), so a
    * cold session reads S + C rows instead of retraining. */
  private[graft] def hierState(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    SessionCaches.memo(spark, "similarity.hier", dir) {
      import spark.implicits._
      val numCells = ivfCellCount(spark, dir)
      val s = superCountFor(numCells)
      val params = s"$IvfIndexParams,hier=1,s=$s"
      lazy val trained = trainIvfCentroidsHier(spark, dir)
      val supStored = graft.IndexStore.getOrBuild(spark, dir, "embeddings",
        "ivf_supercents", params) {
        spark.createDataFrame(
          trained._1.zipWithIndex.map { case (c, g) =>
            (g, trained._2(g).length, c.toSeq) }.toSeq)
          .toDF("g", "n_cells", "centroid")
          .coalesce(1)
      }
      val cellStored = graft.IndexStore.getOrBuild(spark, dir, "embeddings",
        "ivf_hier_cells", params) {
        spark.createDataFrame(
          trained._2.flatten.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
          .toDF("cid", "centroid")
          .coalesce(1)
      }
      val sup = supStored.as[(Int, Int, Seq[Double])].collect().sortBy(_._1)
      val flat = cellStored.as[(Int, Seq[Double])].collect().sortBy(_._1)
        .map(_._2.toArray)
      val budgets = sup.map(_._2)
      val offsets = budgets.scanLeft(0)(_ + _)
      val cells = Array.tabulate(sup.length)(g =>
        flat.slice(offsets(g), offsets(g + 1)))
      (sup.map(_._3.toArray), cells)
    }

  /** The probe side against the trained centroids: (probe_id,
    * neighbor_id = cid, sim) over NumProbes·C rows, the centroids a
    * broadcast local-rows frame in [[cosine]]'s candidate columns
    * (v, nrm). Recomputed per caller from a pushdown-pruned probe scan.
    * The Column arithmetic ([[dot]] = the native DotProductExpr) runs
    * the identical IEEE sequence as the kernel [[dotA]], so probe
    * scores and [[ivfAssign]]'s kernel scores are bit-equal. */
  private def probeSims(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = spark.createDataset(
        trainIvfCentroids(spark, dir).zipWithIndex
          .map { case (c, i) => (i.toLong, c) })
      .toDF("cid", "v")
      .withColumn("nrm", norm(col("v")))
    probeSide(vectors(spark, dir))
      .crossJoin(broadcast(cents))
      .select(col("probe_id"), col("cid").as("neighbor_id"), cosine.as("sim"))
  }

  /** The IVF probe-cell election: each probe's [[IvfProbeCells]] best
    * cells by cosine, (probe_id, cid). */
  private def ivfProbeCells(spark: SparkSession, dir: String): DataFrame =
    topPerProbe(probeSims(spark, dir), IvfProbeCells)
      .select(col("probe_id"), col("neighbor_id").as("cid"))

  /** IVF candidates, (probe_id, vec_id, cid): the members of each
    * probe's elected `cells`, the probe itself excluded. The join is
    * broadcast(probe cells) ⋈ assignments, so the big side never
    * shuffles. */
  private def ivfCandidates(spark: SparkSession, dir: String,
                            cells: DataFrame): DataFrame = {
    val assign = ivfAssign(spark, dir)
    assign.join(broadcast(cells),
        assign("cid") === cells("cid") && assign("vec_id") =!= cells("probe_id"))
      .select(col("probe_id"), col("vec_id"), assign("cid"))
  }

  /** Exact cosine rerank of a (probe_id, neighbor_id) candidate frame:
    * each probe's top [[K]]. */
  private def rerank(spark: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val vecs = vectors(spark, dir)
    topK(cand
      .join(vecs, col("neighbor_id") === col("vec_id"))
      .join(broadcast(probeSide(vecs)), "probe_id")
      .select(col("probe_id"), col("neighbor_id"), cosine.as("sim")))
  }

  /** Every vector's trained-cluster assignment — ONE NARROW PASS of
    * [[cosineArgmax]] over broadcast centroids ([[nearestCells]]),
    * persisted and memoized per (session, corpus) as n two-column rows.
    * It never stores a score: an n×C score frame argmax'd relationally
    * is 4×10¹² rows at n = 10⁹, C = 4096. Probe-side consumers, which
    * do need per-cell scores for [[IvfProbeCells]] election, read the
    * tiny [[probeSims]] frame instead. Beyond [[HierCellThreshold]]
    * cells the flat n·C kernel is the scale wall, so assignment goes
    * supercluster-first ([[ivfAssignHierOf]]); every certified rung
    * stays below the threshold, on the flat branch. */
  private[graft] def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    SessionCaches.persisted(spark, "similarity.ivfAssign", dir) {
      import spark.implicits._
      if (useHier(ivfCellCount(spark, dir))) {
        val (sup, cells) = hierState(spark, dir)
        ivfAssignHierOf(spark, dir, sup, cells)
      } else
        nearestCells(spark, rawVectors(spark, dir).as[(Long, Array[Double])],
          trainIvfCentroids(spark, dir)).toDF("vec_id", "cid")
    }

  /** Cluster-balance profile of the corpus over the TRAINED k-means
    * cells — the "is my training mix topically skewed" audit that
    * drives cluster-balanced sampling (the embedding-space analog of
    * `corpus_balance_sample`'s per-language quotas): one row per
    * cluster with its member count. Cost beyond the shared scoring
    * pass is one C-row aggregate. The oracle replays the full 5-round
    * training in SQL (same CTEs as `similar_ann_ivf`) and counts the
    * final assignment — so a drift in training, scoring, or tie-break
    * order shows up as a count mismatch. */
  def embeddingClusterBalance(spark: SparkSession, dir: String): DataFrame =
    ivfAssign(spark, dir)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"))

  /** Per-cell census over the FORCED two-level quantizer — the
    * certification twin of [[embeddingClusterBalance]] for the hier
    * path (all oracle-gated rungs sit below [[HierCellThreshold]], so
    * [[ivfAssign]] rides the flat branch there). [[hierState]] always
    * trains S = ⌈√C⌉ superclusters regardless of the threshold, so
    * here the supercluster Lloyd stage, the largest-deficit cell
    * allocation, the per-group seeding/padding, the grouped Lloyd
    * stage, and the two-stage assignment all face a DuckDB hash-match
    * at EVERY oracle-gated SF (S = 4 groups at sf0.01 through sf3
    * where C = 16; multi-group coverage widens only on the bigger
    * fixtures — S = 7 at n=200k, 39 at the n=6M production rung) —
    * the certification form the S = 1 bit-equivalence spec and the
    * recall-parity A/Bs could not provide. Above the threshold
    * (C > 512), where [[ivfAssign]] dispatches to the identical
    * hierState + [[ivfAssignHierOf]] pair on its own, this query IS
    * the shipping path, so the production-regime artifact runs the
    * same SQL with `useHier = true` live. */
  def hierClusterBalance(spark: SparkSession, dir: String): DataFrame = {
    val (sup, cells) = hierState(spark, dir)
    ivfAssignHierOf(spark, dir, sup, cells)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"))
  }

  /** Embedding-space drift monitor — the PSI of the incoming batch
    * (odd vec_ids) against the standing corpus (even) over the
    * DEPLOYED coarse quantizer's cells: the semantic twin of
    * `quality_drift_psi` (which watches scalar features; a crawl can
    * hold length and token stats steady while its TOPICS shift, and
    * only the embedding space sees that). Production shape: the
    * quantizer is the one the IVF index already uses — trained once at
    * index-build time, batches are monitored in ITS cell space, so the
    * monitor costs one assignment pass (the shared, memoized scoring
    * frame) + a C-row census. Same determinism discipline as the text
    * PSI: 0.5-additive smoothing over C cells keeps empty cells — the
    * loudest drift signal — finite; per-cell terms round to 12
    * decimals and sum as DECIMAL so the total is partition-order-free.
    * Output: one row per cell (C = `cellsFor(n)` rows, bounded model
    * state, never corpus-sized). */
  def embeddingDriftPsi(spark: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssign(spark, dir)
    cellPsiBetween(spark,
      assign.filter(col("vec_id") % 2 === 0).select("cid"),
      assign.filter(col("vec_id") % 2 === 1).select("cid"),
      ivfCellCount(spark, dir))
  }

  /** The cell-space PSI core over two explicit assignment frames (each
    * a `cid` column, one row per member) — [[embeddingDriftPsi]]'s
    * math factored out so the STREAMING gate
    * ([[graft.streaming.IngestDedup.startGated]]) can score incoming
    * batches against a deployed quantizer's cells. Same determinism
    * discipline: 0.5-additive smoothing over all `nCells` cells, terms
    * rounded to 12 decimals, DECIMAL-summed. */
  private[graft] def cellPsiBetween(spark: SparkSession, refCids: DataFrame,
                                    batchCids: DataFrame, nCells: Int): DataFrame = {
    val perCell = refCids.select(col("cid"), lit(true).as("is_ref"))
      .unionByName(batchCids.select(col("cid"), lit(false).as("is_ref")))
      .groupBy("cid")
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_batch"))
    val allCells = spark.range(0, nCells).select(col("id").as("cid"))
    val totals = perCell.agg(
      sum("n_ref").as("tot_ref"), sum("n_batch").as("tot_batch"))
    val pRef = (col("n_ref") + lit(0.5)) / (col("tot_ref") + lit(nCells * 0.5))
    val pBatch = (col("n_batch") + lit(0.5)) / (col("tot_batch") + lit(nCells * 0.5))
    val term = round((pBatch - pRef) * log(pBatch / pRef), 12)
      .cast(org.apache.spark.sql.types.DecimalType(24, 12))
    // One global aggregate gathers the C cell rows together with their
    // DECIMAL order-free total, then unfolds them: the cell frame is
    // derived once, and no window operator (an unpartitioned one, once
    // Catalyst folds a literal partition key) enters the plan.
    allCells
      .join(perCell, Seq("cid"), "left")
      .na.fill(0L, Seq("n_ref", "n_batch"))
      .crossJoin(broadcast(totals))
      .withColumn("t", term)
      .agg(
        collect_list(struct(col("cid"), col("n_ref"), col("n_batch"),
          round(pRef, 6).as("p_ref"), round(pBatch, 6).as("p_batch"),
          round(col("t").cast("double"), 6).as("psi_term"))).as("cells"),
        sum(col("t")).as("psi_total"))
      .select(explode(col("cells")).as("c"),
        round(col("psi_total").cast("double"), 6).as("psi"))
      .select(col("c.*"), col("psi"))
  }

  /** (id, cell) of every (id, v) row: one narrow `mapPartitions` pass
    * of [[cosineArgmax]] over broadcast centroids, no shuffle — the
    * kernel behind [[ivfAssign]] and [[assignToCentroids]]. */
  private def nearestCells(spark: SparkSession, vecs: Dataset[(Long, Array[Double])],
                           cents: Array[Array[Double]]): Dataset[(Long, Long)] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    vecs.mapPartitions { it =>
      val nearest = cosineArgmax(bc.value)
      it.map { case (id, v) => (id, nearest(v).toLong) }
    }
  }

  /** Nearest-centroid assignment of explicit (id: Long, v) rows against
    * a PROVIDED quantizer ([[nearestCells]]): the entry point a
    * streaming monitor uses to score a micro-batch in the DEPLOYED
    * index's cell space without touching the training path. */
  private[graft] def assignToCentroids(spark: SparkSession, vecs: DataFrame,
                                       cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    nearestCells(spark, vecs.select(col("id"), col("v")).as[(Long, Array[Double])], cents)
      .toDF("id", "cid")
  }

  /** IVF-style ANN: assign every vector to its nearest of [[IvfCells]]
    * centroids (one narrow n×C scoring pass — centroids broadcast, no
    * driver collect), then each probe searches only its
    * [[IvfProbeCells]] best cells ([[ivfCandidates]]) and reranks them
    * exactly. Recall/latency trades via IvfProbeCells exactly like
    * production IVF indexes. */
  def similarAnnIvf(spark: SparkSession, dir: String): DataFrame =
    rerank(spark, dir, ivfCandidates(spark, dir, ivfProbeCells(spark, dir))
      .select(col("probe_id"), col("vec_id").as("neighbor_id")))

  /** Exact-rerank shortlist size for [[similarAnnIvfPq]] — 8×K, the
    * standard query-time recall knob: ADC over the coarse test
    * codebooks (4 subspaces × 8 codes) orders weakly on near-random
    * synthetic vectors, so the shortlist is kept deep relative to K;
    * at production occupancy (≈4096/cell) this depth is still a
    * ~200× cut over exact-scoring the cells. */
  val PqRerank = 40

  /** IVF-PQ search — the canonical billion-scale ANN query path
    * (FAISS IVFPQ, RESIDUAL layout): the trained coarse quantizer picks
    * each probe's [[IvfProbeCells]] cells, cell members become
    * candidates, each candidate is scored by ASYMMETRIC distance
    * computation (ADC) against its stored RESIDUAL code — the probe's
    * residual vs the probed cell's centroid against the candidate's
    * codebook centroid, never the full candidate vector — and only the
    * [[PqRerank]]-deep ADC shortlist is re-ranked with exact cosine to
    * the final top-[[K]].
    *
    * Determinism: the ADC is the INTEGER Σ_{m,d}(qr−qc)² over
    * 10⁶-quantized residual values (the `embedding_pq_codes` error
    * metric, as a distance) — exact int64, so the shortlist cut is
    * order-free and replayed verbatim by the oracle; only the final
    * re-rank touches doubles, with the shared sequential cosine.
    *
    * Scale shape: both trained structures are memoized bounded driver
    * state; probe cells, probe vectors, and the distance table
    * broadcast; the ADC pass is joins + a hash aggregate over cell
    * members (candidates ≈ probes · cells · occupancy, never the
    * corpus); the exact re-rank touches PqRerank vectors per probe.
    * The PQ codes ARE a stored column: the ADC pass scans the
    * persisted `embedding_pq_codes` artifact
    * ([[embeddingPqCodesIndexed]]) and never reads a candidate's
    * embedding — the deployment split the 100 TB posture calls for,
    * with the per-(probe, probed cell) distance table broadcast as
    * NumProbes·IvfProbeCells·M·K rows of exact-int64 driver state. */
  def similarAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = trainPqCodebooks(spark, dir)
    val qcents = cents.map(_.map(quantized))
    val ivfCents = trainIvfCentroids(spark, dir)
    // probe raw vectors: NumProbes·Dim doubles of driver state — the
    // residual ADC needs them per PROBED CELL (q − centroid(cell)),
    // which is not any single stored residual
    val probeVecs: Map[Long, Array[Double]] =
      rawVectors(spark, dir).filter(col("vec_id") < NumProbes)
        .as[(Long, Array[Double])].collect().toMap

    // cand carries the cell: the residual ADC distance table is keyed
    // per (probe, PROBED cell) — a candidate's code decodes relative to
    // its cell's centroid, so the probe side must subtract the same one
    val probeCells = ivfProbeCells(spark, dir)
    val cand = ivfCandidates(spark, dir, probeCells)

    // Candidate codes come from the STORED artifact (the full
    // `embedding_pq_codes` output persisted by IndexStore) — one
    // parquet FileScan, no per-candidate encode kernel anywhere in the
    // plan. BandIndexSpec pins the artifact bit-identical to a fresh
    // encode, so adcq is the in-line kernel's.
    val codes = embeddingPqCodesIndexed(spark, dir)
      .select(col("vec_id"), col("subspace"), col("code"))

    // ADC via a precomputed per-(probe, probed cell) distance table
    // (the classic IVFPQ trick, residual form): table[(probe, cell, m,
    // code)] = Σ_d (floor((q−c_cell)·10⁶)[m][d] − qcents[m][code][d])²
    // — NumProbes·IvfProbeCells·M·K rows of exact-int64 driver state,
    // broadcast and summed per (probe, candidate). The probe's residual
    // is taken against the CANDIDATE's cell centroid — the same origin
    // the candidate's stored code quantized — which is what makes the
    // asymmetric distance comparable.
    val probeCellPairs: Array[(Long, Long)] =
      probeCells.as[(Long, Long)].collect()
    val adcTable = spark.createDataset(
      for {
        (pid, cellId) <- probeCellPairs.toSeq
        m <- 0 until PqSubspaces
        j <- qcents(m).indices
      } yield {
        val pv = probeVecs(pid)
        val cc = ivfCents(cellId.toInt)
        var d2 = 0L; var d = 0
        while (d < PqSubDim) {
          val i = m * PqSubDim + d
          val qr = math.floor((pv(i) - cc(i)) * QuantScale).toLong
          val dd = qr - qcents(m)(j)(d); d2 += dd * dd; d += 1
        }
        (pid, cellId, m.toLong, j.toLong, d2)
      }).toDF("probe_id", "cid", "subspace", "code", "d2")

    val adc = cand.join(codes, "vec_id")
      .join(broadcast(adcTable), Seq("probe_id", "cid", "subspace", "code"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("d2").as("adcq"))

    // shortlist by (adcq asc, vec_id asc) — Neighbor sim = −adcq rides
    // the (sim desc, id asc) heap order; int64 < 2^53 so the double
    // negation is exact
    val shortlist = topPerProbe(adc
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          negate(col("adcq")).cast("double").as("sim")), PqRerank)
      .select(col("probe_id"), col("neighbor_id"))
    rerank(spark, dir, shortlist)
  }

  /** MMR result size, candidate-shortlist size, and λ. λ = 0.5 is
    * deliberately float-EXACT (0.7 would make 1−λ differ between a
    * Scala `1 - 0.7` and a SQL literal `0.3` in the last ulp and break
    * the hash oracle). */
  val MmrK = 10
  val MmrCandidates = 50
  val MmrLambda = 0.5

  /** Maximal-marginal-relevance diversification (Carbonell & Goldstein
    * 1998) — the retrieval re-ranker that trades relevance against
    * redundancy: greedily pick argmax of
    * λ·rel(c) − (1−λ)·max_{s∈S} cos(c, s), ties to the lower id.
    *
    * Two-stage shape, the standard reranker split: the DISTRIBUTED
    * stage is the probe search ([[probeScores]]) for probe vector 0
    * alone, and the per-probe heap ([[topPerProbe]]) keeps the
    * [[MmrCandidates]]-deep shortlist; the
    * greedy loop is O(k·C²) on that bounded shortlist and runs
    * driver-side — like Lloyd's centroid state, it is bounded driver
    * compute (50 vectors), not a corpus collect, and is inherently
    * sequential. The oracle replays the greedy as [[MmrK]] unrolled
    * CTEs (each step's argmax ordered by the identical double score —
    * shared cosine operation sequence, exact λ — with per-step
    * `greatest` over the selected set, which max makes order-free). */
  def mmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = vectors(spark, dir)
    val shortlist: Array[Neighbor] = topPerProbe(
        probeScores(vecs, probeSide(vecs).filter(col("probe_id") === 0), lit(true)),
        MmrCandidates)
      .select(col("rank"), col("sim"), col("neighbor_id").as("id"))
      .as[(Int, Double, Long)].collect().sortBy(_._1)
      .map { case (_, sim, id) => Neighbor(sim, id) }
    val ids = shortlist.map(_.id).toSet
    val byId: Map[Long, Array[Double]] = vecs
      .filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id"), col("v"))
      .as[(Long, Array[Double])].collect().toMap
    val nrm: Map[Long, Double] = byId.map { case (id, v) => id -> math.sqrt(dotA(v, v)) }
    def cos(a: Long, b: Long): Double = dotA(byId(a), byId(b)) / (nrm(a) * nrm(b))

    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(shortlist.map(n => n.id -> n.sim): _*)
    while (selected.length < MmrK && remaining.nonEmpty) {
      var bestId = -1L; var bestScore = Double.NegativeInfinity
      for ((id, r) <- remaining) {
        var maxSim = 0.0
        var first = true
        for ((sid, _, _) <- selected) {
          val s = cos(id, sid)
          if (first || s > maxSim) { maxSim = s; first = false }
        }
        val score = MmrLambda * r - (1 - MmrLambda) * maxSim
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestScore = score; bestId = id
        }
      }
      selected += ((bestId, remaining(bestId), bestScore))
      remaining.remove(bestId)
    }
    // rounding happens in ENGINE expressions (Spark round == DuckDB
    // round for ties), never driver-side rint
    spark.createDataset(selected.toSeq.zipWithIndex.map { case ((id, r, sc), i) =>
      (i + 1L, id, r, sc)
    }).toDF("mmr_rank", "vec_id", "rel", "mmr_score")
      .select(col("mmr_rank"), col("vec_id"),
        round(col("rel"), 6).as("rel"), round(col("mmr_score"), 6).as("mmr_score"))
  }

  /** SemDeDup-style semantic pruning (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the trained
    * coarse quantizer, then WITHIN each cluster drop every vector that
    * has an above-threshold cosine neighbor with a lower vec_id — the
    * deterministic keep-min-id survivor election every dedup query in
    * this repo uses. Output is the per-cluster audit (members, pruned,
    * kept) a curation pipeline reviews before committing the prune.
    *
    * Scale shape: the pairwise work is confined to clusters — n·cell
    * pairs total, never the n² global cross — and rides the memoized
    * assignment pass ([[ivfAssign]]), so repeat invocations pay only the
    * cluster-local join. With the testdata's fixed C=16 cells the
    * cid join has 16 keys; the production setting C ≈ n/4096 keeps
    * cell size (and the per-key pair count) CONSTANT as n grows, so
    * the join parallelizes and the total work stays linear in n — the
    * same C-scaling the SemDeDup paper uses. The oracle replays
    * k-means training (shared CTEs), assignment, and the in-cluster
    * election. */
  def semdedupPrune(spark: SparkSession, dir: String): DataFrame = {
    val av = ivfAssign(spark, dir).join(vectors(spark, dir), "vec_id")
    val lhs = av.select(col("cid"), col("vec_id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val rhs = av.select(col("cid").as("cid2"), col("vec_id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val dropped = lhs.join(rhs,
        col("cid") === col("cid2") && col("id1") < col("id2"))
      .filter(dot(col("v1"), col("v2")) / (col("n1") * col("n2"))
        >= NeardupCosine)
      .select(col("cid"), col("id2").as("vec_id")).distinct()
    av.groupBy("cid").agg(count(lit(1)).as("n_vectors"))
      .join(dropped.groupBy("cid").agg(count(lit(1)).as("p")),
        Seq("cid"), "left_outer")
      .select(col("cid"), col("n_vectors"),
        coalesce(col("p"), lit(0L)).as("n_pruned"),
        (col("n_vectors") - coalesce(col("p"), lit(0L))).as("n_kept"))
  }

  /** Int8 quantization (training-prep staple): symmetric per-vector
    * scale q_i = floor(v_i·127/max|v|). Output is the quantized sum +
    * the scale so the result is one checksum row per vector. Narrow
    * kernel, no shuffle at all. */
  val quantize: UserDefinedFunction = udf { (v: Seq[Double]) =>
    var m = 0.0
    v.foreach(x => if (math.abs(x) > m) m = math.abs(x))
    if (m == 0.0) (0L, 0.0)
    else {
      var s = 0L
      v.foreach(x => s += math.floor(x * 127.0 / m).toLong)
      (s, m)
    }
  }

  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        quantize(col("embedding").cast("array<double>")).as("q"))
      .select(col("vec_id"), col("q._1").as("q_sum"),
        round(col("q._2"), 6).as("scale"))

  // ---- product quantization ----

  /** PQ layout: [[Dim]]=64 dims split into 4 subspaces of 16; each
    * subspace gets its own [[PqK]]-centroid codebook (so a vector
    * compresses to 4 codes ≈ 1 byte at these sizes — production PQ
    * uses 8–16 subspaces × 256 codes, same plumbing). */
  val PqSubspaces = 4
  val PqSubDim: Int = Dim / PqSubspaces
  val PqK = 8

  /** Lloyd iterations per PQ codebook — static, replayed by the oracle
    * (same contract as [[IvfIters]]). */
  val PqIters = 2

  /** PQ twin of [[IvfIndexParams]] — keys the codebook and codes
    * artifacts on the constants they were trained/encoded with. The
    * `res=ivf(...)` component records that codes are RESIDUAL-encoded
    * against the IVF coarse quantizer: a coarse quantizer parameter
    * change re-keys the PQ artifacts too, because residuals — and so
    * codebooks and codes — depend on it. */
  private[graft] def PqIndexParams =
    s"dim=$Dim,m=$PqSubspaces,k=$PqK,iters=$PqIters,q=$QuantScale,res=ivf($IvfIndexParams)"

  /** The per-subspace [[Train]] rows (m, vec_id, subvector, quantized
    * subvector) the PQ trainer and encoder both consume — RESIDUAL
    * form (the FAISS IVF-PQ layout): each vector's assigned coarse
    * centroid is subtracted BEFORE slicing, so the codebooks quantize
    * what the coarse quantizer failed to explain (the residual's
    * dynamic range is a fraction of the raw vector's, worth ~2× code
    * efficiency at the same M×K). The assignment rides the memoized
    * [[ivfAssign]] frame and the centroids broadcast as bounded driver
    * state — one narrow flatMap, no new corpus shuffle. `preFilter`
    * applies BEFORE the subvector kernel, so the training sample never
    * runs it over the whole corpus. */
  private def pqSubvectors(spark: SparkSession, dir: String,
                           preFilter: Option[Column] = None): Dataset[Train] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(trainIvfCentroids(spark, dir))
    val base = rawVectors(spark, dir)
    preFilter.fold(base)(base.filter)
      .join(ivfAssign(spark, dir), "vec_id")
      .select(col("vec_id"), col("v"), col("cid"))
      .as[(Long, Array[Double], Long)]
      .flatMap { case (id, v, cid) =>
        val c = bc.value(cid.toInt)
        val r = new Array[Double](v.length)
        var d0 = 0
        while (d0 < v.length) { r(d0) = v(d0) - c(d0); d0 += 1 }
        (0 until PqSubspaces).iterator.map { m =>
          val s = java.util.Arrays.copyOfRange(r, m * PqSubDim, (m + 1) * PqSubDim)
          (m, id, s, quantized(s))
        }
      }
  }

  /** Squared L2 distance as the SAME operation sequence the DuckDB
    * oracle evaluates: (dot(s,s) − 2·dot(s,c)) + dot(c,c), every dot a
    * left-to-right fold — so argmin ordering is bit-identical across
    * engines. */
  private def sqDist(s: Array[Double], c: Array[Double]): Double =
    dotA(s, s) - 2.0 * dotA(s, c) + dotA(c, c)

  /** The PQ codebooks, memoized per (session, corpus) AND persisted:
    * the first session to train a corpus's codebooks publishes them as
    * a fingerprint-keyed parquet artifact ([[graft.IndexStore]], rows
    * of (m, cid, centroid)); every later session — cold JVMs included —
    * reads M·K rows back instead of retraining. Doubles round-trip
    * parquet losslessly, so stored-vs-fresh codebooks are bit-identical
    * (spec-pinned). */
  private[graft] def trainPqCodebooks(
      spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    SessionCaches.memo(spark, "similarity.pq", dir) {
      import spark.implicits._
      val stored = graft.IndexStore.getOrBuild(spark, dir, "embeddings",
        "pq_codebooks", PqIndexParams) {
        val trained = trainPqCodebooksFresh(spark, dir)
        spark.createDataFrame(
          for (m <- 0 until PqSubspaces; c <- 0 until PqK)
            yield (m, c, trained(m)(c).toSeq))
          .toDF("m", "cid", "centroid")
          // one tiny file: M·K rows of driver state, not a data table
          .coalesce(1)
      }
      val rows = stored.as[(Int, Int, Seq[Double])].collect()
      require(rows.length == PqSubspaces * PqK,
        s"pq_codebooks artifact has ${rows.length} rows, " +
          s"expected ${PqSubspaces * PqK}")
      val byKey = rows.map(r => (r._1, r._2) -> r._3.toArray).toMap
      Array.tabulate(PqSubspaces, PqK)((m, c) => byKey((m, c)))
    }

  /** Train the PQ codebooks: [[lloyd]] over the residual subvectors of
    * the [[trainEvery]] sample as [[PqSubspaces]] groups of [[PqK]]
    * codes, [[l2Argmin]] election, seeded with the [[PqK]] lowest
    * sampled ids' subvectors. At 100 TB nothing but the final encode
    * pass touches the corpus. */
  private[graft] def trainPqCodebooksFresh(
      spark: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val every = trainEvery(vecCount(spark, dir))
    val base = SessionCaches.persist(pqSubvectors(spark, dir, Some(trainSampleCond(every))))
    try {
      val seeds = lowestIdSeeds(spark, base, PqSubspaces, PqK, dir, every)
      lloyd(spark, base, seeds, PqIters, l2Argmin)._1
    } finally { base.unpersist(); () }
  }

  /** Product-quantization codes + reconstruction error — the vector
    * compression every billion-scale ANN index (IVF-PQ / DiskANN-style)
    * sits on, in the RESIDUAL layout production FAISS IVF-PQ uses: the
    * m-th subvector of each vector's residual against its assigned
    * coarse centroid (x − c_ivf(x)) is replaced by the id of its
    * nearest codebook centroid ([[l2Argmin]]) — the codebooks
    * themselves are trained on residuals, so the M×K budget models the
    * part of the vector the coarse quantizer cannot, worth ~2× code
    * efficiency over raw-vector PQ at the same size. Output is one row
    * per (vector, subspace): the code and the INTEGER quantized
    * reconstruction error err_q = Σ_d (floor(r_d·10⁶) − floor(c_d·10⁶))²
    * — exact int64 arithmetic, so the hash compare is immune to
    * aggregation order (the assignment itself rides double [[sqDist]],
    * whose operation sequence both engines share).
    *
    * Plan: codebooks broadcast (M·K·subdim doubles); scoring is ONE
    * narrow pass over the corpus — after the training memo the only
    * addition over raw-vector PQ is the assignment join against the
    * memoized [[ivfAssign]] frame, which is the 100 TB posture: PQ
    * encode is embarrassingly parallel, the only hard part is the
    * codebook, and that is bounded driver state. */
  def embeddingPqCodes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = trainPqCodebooks(spark, dir)
    val bc = spark.sparkContext.broadcast((cents, cents.map(_.map(quantized))))
    pqSubvectors(spark, dir)
      .map { case (m, id, s, q) =>
        val (cs, qcs) = bc.value
        val best = l2Argmin(cs(m))(s)
        val qc = qcs(m)(best)
        var e = 0L; var d = 0
        while (d < PqSubDim) { val dd = q(d) - qc(d); e += dd * dd; d += 1 }
        (id, m.toLong, best.toLong, e)
      }
      .toDF("vec_id", "subspace", "code", "err_q")
  }

  /** Bands for LSH near-dup: pair survives if ANY band's 6-bit bucket
    * matches, so candidate recall is 1−(1−s^bits)^bands for cosine-
    * similarity s (the standard banding amplification). 4 bands × 6
    * bits reuses [[planeEntry]] hyperplanes 0–23. */
  val NeardupBands = 4

  /** ALL-PAIRS near-dup at LSH scale — the declared production twin of
    * [[graft.dedup.Dedup.embeddingNeardup]]'s exact O(n²) grid: each
    * vector is replicated to [[NeardupBands]] (band, bucket) cells, a
    * per-band bucket equi-join yields the candidates (rows only meet
    * inside a 64-way bucket, never across the corpus), and the exact
    * cosine filter keeps only true >= [[NeardupCosine]] pairs, so
    * emitted pairs are always a SUBSET of the exact query's
    * (SimilaritySpec pins subset + recall). A pair matching several bands collapses via distinct on
    * the identically-computed row. At 100 TB you raise bits with corpus
    * size (bucket occupancy ≈ n/2^bits) and bands with the recall
    * target — the plumbing is this exact plan. */
  def embeddingNeardupLsh(spark: SparkSession, dir: String): DataFrame = {
    val bands = banded(vectors(spark, dir), LshBits)
    val lhs = bands.select(col("band"), col("bucket"),
      col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val rhs = bands.select(col("band").as("band2"), col("bucket").as("bucket2"),
      col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    lhs.join(rhs, col("band") === col("band2") && col("bucket") === col("bucket2") &&
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("sim"))
      .filter(col("sim") >= NeardupCosine)
      .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim"))
      .distinct()
  }

  /** Neighbors kept per vector in the [[knnGraphLsh]] graph. */
  val KnnGraphK = 5

  /** Target per-band bucket occupancy for the kNN graph, and the bits
    * cap. Scored pairs per vector ≈ bands · occupancy, so holding
    * occupancy constant holds the graph build LINEAR in n — the
    * knnBits ladder picks the smallest bits ≥ [[LshBits]] with
    * n ≤ occupancy · 2^bits. Identity (6 bits) through sf0.1, 10 bits
    * at sf1, 11 at sf3 — the sf3 probe measured the fixed-bits form
    * going quadratic (255 M scored pairs, 65 s) before this ladder. */
  val KnnTargetOcc = 32
  val KnnMaxBits = 20

  /** Per-(band, bucket) NEIGHBOR-side candidate cap for [[knnGraphLsh]]
    * — the bound the [[knnBitsFor]] ladder cannot provide against HOT
    * buckets (a near-dup family shares every band bucket at any bit
    * width, so its bucket holds the whole family). The cap keeps the
    * [[KnnBucketCap]] lowest vec_ids of each bucket as JOIN CANDIDATES;
    * probing stays uncapped, so every vector still gets k neighbors —
    * from a slice of its family that is near-identical to the rest of
    * it. 2× the target occupancy: dormant on every honest bucket, and
    * on the adversarial copy-ladder it bounds scored pairs at
    * n · bands · cap (the sf100 blowup it exists for: f≈1000 families
    * → ~8 G uncapped pairs, measured ENOSPC). The oracle replays the
    * identical lowest-id slice. */
  val KnnBucketCap = 64

  def knnBitsFor(n: Long): Int = {
    var b = LshBits
    while (b < KnnMaxBits && n > (KnnTargetOcc.toLong << b)) b += 1
    b
  }

  private def vecCount(spark: SparkSession, dir: String): Long =
    Tables.rowCount(spark, dir, "embeddings")

  /** k-NN GRAPH over the whole corpus — one top-[[KnnGraphK]] neighbor
    * list PER VECTOR (not per probe), the all-vectors index build that
    * feeds SemDeDup-style clustering, label propagation, and
    * graph-based retrieval. Candidates are the same banded sign-LSH
    * cells as [[embeddingNeardupLsh]], taken in BOTH directions
    * (id1 ≠ id2, not id1 < id2 — each vector ranks its own
    * neighborhood); multi-band collisions collapse via distinct on the
    * identically-computed row before the heap, and per-vector top-k
    * runs through the bounded [[graft.operators.BoundedTopK]]
    * aggregator, so the shuffle after scoring carries ≤ k rows per
    * (partition, vector). Vectors whose cells hold no other vector
    * emit no rows (an isolated node), same as the oracle.
    *
    * 100 TB shape: candidate count per vector ≈ bands · occupancy
    * (n/2^bits), so the [[knnBitsFor]] ladder raises bits with corpus
    * size to hold AVERAGE occupancy ≤ [[KnnTargetOcc]] — scored-pair
    * volume is then O(n · bands · occupancy), LINEAR in n, never the
    * n² brute-force graph (the fixed-bits form measured 23× for 3×
    * data at sf3 before the ladder; the oracle derives the identical
    * bits from COUNT(*)). The ladder cannot bound a HOT bucket,
    * though: near-identical vectors share every band bucket, so a
    * near-dup family of f members puts f vectors in one bucket
    * regardless of bits, and scored pairs grow as Σ_families f² —
    * an sf100 run measured that blowup for real (f≈1000 →
    * ~8 G vector-carrying pairs, ENOSPC twice with the sandbox's full
    * headroom). [[KnnBucketCap]] is the [[graft.dedup.Dedup.MaxBucket]]
    * move applied here: the NEIGHBOR side of the bucket join keeps
    * only a bounded, deterministic slice per bucket. */
  def knnGraphLsh(spark: SparkSession, dir: String): DataFrame =
    knnGraphLshOf(spark, vectors(spark, dir),
      knnBitsFor(vecCount(spark, dir)))

  /** [[knnGraphLsh]]'s probe slice: the graph rows for the
    * [[NumProbes]] probe vectors, built with the PROBE side filtered
    * before the bucket join (the slice query itself is bounded work at
    * any SF) — per-probe rows identical to filtering the full graph,
    * because the [[KnnBucketCap]] window caps the NEIGHBOR side
    * globally and each probe's top-k depends only on its own candidate
    * set (SimilaritySpec pins the equality). The certifiable twin of
    * the pair-bound graph build above sf3. */
  def knnGraphLshSlice(spark: SparkSession, dir: String): DataFrame =
    knnGraphLshOf(spark, vectors(spark, dir),
      knnBitsFor(vecCount(spark, dir)),
      probeOnly = Some(col("vec_id") < NumProbes))

  /** [[knnGraphLsh]] over an explicit (vec_id, v, nrm) frame at a given
    * bit width — split out so SimilaritySpec can feed a synthetic hot
    * family and watch [[KnnBucketCap]] bound the candidate volume.
    * `probeOnly` restricts the PROBE side (the uncapped lhs) only —
    * the neighbor-side cap window stays global. */
  private[graft] def knnGraphLshOf(spark: SparkSession, vecs: DataFrame,
                                   bits: Int,
                                   probeOnly: Option[Column] = None): DataFrame = {
    val bands = banded(vecs, bits)
    val lhs = probeOnly.fold(bands)(bands.filter)
      .select(col("band"), col("bucket"),
      col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    // neighbor-side bucket cap: a hot bucket is by construction a set
    // of near-identical vectors (they agree on every hyperplane sign),
    // so any bounded slice of it supplies top-k-quality neighbors; the
    // lowest-vec_id slice is the deterministic one the oracle replays.
    // Every vector still PROBES all its buckets (lhs is uncapped), so
    // hot-family members keep full neighbor lists — they just stop
    // being quadratically many candidates for each other.
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket").orderBy("vec_id")
    val rhs = bands
      .withColumn("rn", row_number().over(capW))
      .filter(col("rn") <= KnnBucketCap)
      .select(col("band").as("band2"), col("bucket").as("bucket2"),
        col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    val pairs = lhs.join(rhs,
        col("band") === col("band2") && col("bucket") === col("bucket2") &&
          col("id1") =!= col("id2"))
      .select(col("id1").as("probe_id"), col("id2").as("neighbor_id"),
        (dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("sim"))
      .distinct()
    topPerProbe(pairs, KnnGraphK)
      .select(col("probe_id").as("vec_id"),
        (col("rank") + 1).cast("long").as("nn_rank"),
        col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** kNN-graph recall certification — the quality number the
    * [[KnnBucketCap]] contract rides on, MEASURED: for the [[NumProbes]] probe sample, compare the exact
    * brute-force top-[[KnnGraphK]] ([[cachedExactTopk]] — the same
    * memoized pass `ann_recall` certifies the probe-search family
    * against) with the rows the PRODUCTION capped graph build
    * ([[knnGraphLsh]]) actually emits for those probes. Per probe:
    * `found` exact neighbors present in the graph and
    * recall = found / k. The cap changed the graph's candidate set at
    * every SF; its docstring claim ("a hot bucket is near-identical
    * vectors, so any bounded slice supplies top-k-quality neighbors")
    * was prose plus a synthetic spec until this census put a number on
    * it — the `minhash_recall` pattern applied to the graph build.
    *
    * 100 TB posture: the exact side is one bounded broadcast pass (10
    * probes); the graph side is the artifact the pipeline already
    * builds, filtered to probe rows; the oracle replays BOTH —
    * including the capped lowest-id bucket slice — so a cap or ladder
    * change lands here as a measured recall shift before it ships.
    *
    * REGIME column: each row carries
    * `over_cap_buckets` — how many of the probe's own band buckets
    * exceed [[KnnBucketCap]] — so the census is self-interpreting. A
    * low recall with over_cap_buckets = 0 is the BANDING's number (the
    * sf0.01 random-vector regime, where the cap is dormant and 0.24
    * measures sign-LSH itself); recall with over_cap_buckets > 0 is
    * the CAP's number (the sf10 ladder regime: 1.00 with 593 over-cap
    * buckets corpus-wide — the cap binding and costing nothing). The
    * column costs one extra narrow banding pass + a probe-broadcast
    * join; the oracle replays it from the same bb CTE. */
  def knnGraphRecall(spark: SparkSession, dir: String): DataFrame = {
    // `found` counts exact top-[[K]] rows present in the graph's
    // top-[[KnnGraphK]] lists, so dividing by KnnGraphK is a recall
    // only while the two k's agree — if they ever diverge this census
    // (and its oracle, which replays the same arithmetic) would ship a
    // mislabeled ratio with no hash mismatch.
    require(K == KnnGraphK,
      s"knnGraphRecall: exact top-K (K=$K) and graph list width " +
        s"(KnnGraphK=$KnnGraphK) must agree for found/$KnnGraphK to be a recall")
    val exact = cachedExactTopk(spark, dir)
    val probes = exact.select("probe_id").distinct()
    val graph = knnGraphLsh(spark, dir)
      .filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("neighbor_id"))
    // graph's probe rows are ≤ probes·k — broadcast them so the census
    // never shuffles (the subtree below is the expensive part; these
    // joins should stay metadata-cheap at any SF)
    val hits = exact.join(broadcast(graph), Seq("probe_id", "neighbor_id"),
        "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("found"))
    // regime signal: per probe, how many of its own band buckets hold
    // more than KnnBucketCap vectors. The occupancy census streams the
    // banding pass (big side); the probe cell list (NumProbes·bands
    // rows) broadcasts — nothing corpus-sized shuffles.
    val bits = knnBitsFor(vecCount(spark, dir))
    val bands = banded(vectors(spark, dir), bits)
    val probeCells = bands.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("band"), col("bucket"))
    val overCap = bands.groupBy("band", "bucket")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > KnnBucketCap)
      .join(broadcast(probeCells), Seq("band", "bucket"))
      .groupBy("probe_id").agg(count(lit(1)).as("over_cap_buckets"))
    probes.join(broadcast(hits), Seq("probe_id"), "left")
      .join(broadcast(overCap), Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("found"), lit(0L)).as("found"),
        round(coalesce(col("found"), lit(0L)).cast("double") / KnnGraphK, 6)
          .as("recall"),
        coalesce(col("over_cap_buckets"), lit(0L)).as("over_cap_buckets"))
  }

  /** Band-bucket occupancy audit for the VECTOR family — the
    * [[graft.dedup.Dedup.lshBucketAudit]] report over the kNN graph's
    * sign-LSH bucket space: per (band, occupancy) the bucket count,
    * the candidate pairs those buckets would generate uncapped
    * (`occ·(occ−1)/2` each — the quantity [[KnnBucketCap]] bounds),
    * and whether the cap fires. This is the report that would have
    * PREDICTED the sf100 blowup the cap now prevents: a fat occupancy
    * tail here means near-dup families are stacking buckets, and the
    * response — more bits, the cap, or dedup-before-index — is chosen
    * from exactly this distribution. Output bounded by distinct
    * occupancies per band, never corpus-sized; one banding pass + two
    * narrow aggregates. */
  def knnBucketAudit(spark: SparkSession, dir: String): DataFrame = {
    val bits = knnBitsFor(vecCount(spark, dir))
    banded(vectors(spark, dir), bits)
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("occupancy"))
      .groupBy("band", "occupancy")
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("band"), col("occupancy"), col("n_buckets"),
        expr("occupancy * (occupancy - 1) DIV 2 * n_buckets")
          .as("candidate_pairs"),
        (col("occupancy") > KnnBucketCap).as("over_cap"))
  }

  /** The STORED-codes read path: `embedding_pq_codes`' full output
    * persisted as a fingerprint-keyed parquet artifact
    * ([[graft.IndexStore]]) on first build and scanned — one FileScan,
    * zero kernels — by every later session. This is the "codes are a
    * stored column" posture the IVF-PQ docstring names: at 100 TB the
    * encode pass runs once per corpus version and every ANN/dedup
    * consumer reads the artifact. The oracle recomputes codes from
    * scratch, so artifact staleness or write/read loss mismatches the
    * hash. */
  def embeddingPqCodesIndexed(spark: SparkSession, dir: String): DataFrame =
    graft.IndexStore.getOrBuild(spark, dir, "embeddings", "pq_codes",
        PqIndexParams) {
      embeddingPqCodes(spark, dir)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "similar_topk" -> (similarTopk _),
    "knn_graph_lsh" -> (knnGraphLsh _),
    "knn_graph_lsh_slice" -> (knnGraphLshSlice _),
    "knn_graph_recall" -> (knnGraphRecall _),
    "knn_bucket_audit" -> (knnBucketAudit _),
    "embedding_neardup_lsh" -> (embeddingNeardupLsh _),
    "similar_ann_lsh" -> (similarAnnLsh _),
    "similar_ann_multiprobe" -> (similarAnnMultiprobe _),
    "ann_recall" -> (annRecall _),
    "similar_ann_ivf" -> (similarAnnIvf _),
    "similar_ann_ivfpq" -> (similarAnnIvfPq _),
    "mmr_diversify" -> (mmrDiversify _),
    "embedding_cluster_balance" -> (embeddingClusterBalance _),
    "hier_cluster_balance" -> (hierClusterBalance _),
    "embedding_drift_psi" -> (embeddingDriftPsi _),
    "semdedup_prune" -> (semdedupPrune _),
    "embedding_pq_codes" -> (embeddingPqCodes _),
    "embedding_pq_codes_indexed" -> (embeddingPqCodesIndexed _),
    "embedding_quantize" -> (embeddingQuantize _))

  /** One (assign, means, cents) CTE triple per PQ Lloyd iteration —
    * the L2/subspace twin of [[ivfTrainingCtes]]. */
  private def pqTrainingCtes: Seq[String] =
    (1 to PqIters).map { i =>
      s"""passign$i AS MATERIALIZED (SELECT vec_id, m, cid FROM (
         |    SELECT s.vec_id, s.m, c.cid,
         |           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |             list_dot_product(s.s, s.s) - 2*list_dot_product(s.s, c.cv) + list_dot_product(c.cv, c.cv),
         |             c.cid) AS rn
         |    FROM strain s JOIN pcents${i - 1} c ON c.m = s.m) t
         |  WHERE rn = 1),
         |pmeans$i AS MATERIALIZED (
         |  SELECT m, cid, list(cd ORDER BY d) AS cv FROM (
         |    SELECT a.m, a.cid, rd.d,
         |           CAST(SUM(q.qs[rd.d]) AS DOUBLE) / COUNT(*) / 1000000.0 AS cd
         |    FROM passign$i a, qtrain q, range(1, ${PqSubDim + 1}) rd(d)
         |    WHERE q.vec_id = a.vec_id AND q.m = a.m
         |    GROUP BY a.m, a.cid, rd.d) s2
         |  GROUP BY m, cid),
         |pcents$i AS MATERIALIZED (
         |  SELECT p.m, p.cid, COALESCE(mm.cv, p.cv) AS cv
         |  FROM pcents${i - 1} p LEFT JOIN pmeans$i mm ON mm.m = p.m AND mm.cid = p.cid)""".stripMargin
    }

  /** The training-sample CTEs (requires `v` in scope): `tevery` is
    * [[trainEvery]] from COUNT(*), `vtrain` the md5-membership sample —
    * the exact [[trainSampleCond]] arithmetic. With e = 1 the filter
    * `x % 1 = 0` keeps everything, so unsampled SFs replay bit-exact. */
  private def vtrainCtes: String =
    s"""tevery AS (SELECT GREATEST(1, COUNT(*) //
       |             ($TrainPointsPerCell * GREATEST($IvfCells, COUNT(*) // $TargetCellSize))) AS e
       |           FROM embeddings),
       |vtrain AS MATERIALIZED (
       |  SELECT v.vec_id, v.v FROM v, tevery
       |  WHERE CAST(('0x' || substring(md5(CAST(v.vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |          % tevery.e = 0)""".stripMargin

  /** Shared oracle prefix: SAMPLED IVF training replay → every vector's
    * trained-cell assignment (`assign(vec_id, cid)`, with `cents0`
    * also providing the C cell ids) — the base of the cluster-balance
    * and embedding-drift oracles. Seeds are the C lowest SAMPLED
    * vec_ids, cell id = rank (reduces to vec_id < C, cid = vec_id at
    * e = 1 over dense ids); training assigns/averages over `vtrain`
    * only; the final `sims`/`assign` pass is the one full-corpus
    * scan — the Spark side's exact shape. */
  private def ivfAssignCtes: String =
    s"""v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$vtrainCtes,
       |cents0 AS (SELECT rn - 1 AS cid, cv FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, v AS cv FROM vtrain) t
       |  WHERE rn <= (SELECT GREATEST($IvfCells, COUNT(*) // $TargetCellSize) FROM embeddings)),
       |${ivfTrainingCtes.mkString(",\n")},
       |sims AS MATERIALIZED (SELECT vec_id, c.cid,
       |           list_dot_product(v.v, c.cv) /
       |           (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS s
       |         FROM v, cents$IvfIters c),
       |assign AS MATERIALIZED (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM sims) t
       |  WHERE rn = 1)""".stripMargin

  /** [[ivfAssignCtes]] + the probe-cell election — the IVF search
    * prefix shared by the ivfpq and ann_recall oracles. */
  private def ivfSearchPrefixCtes: String =
    s"""$ivfAssignCtes,
       |probes AS MATERIALIZED (SELECT vec_id AS probe_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM sims WHERE vec_id < $NumProbes) t
       |  WHERE rn <= $IvfProbeCells)""".stripMargin

  /** The RESIDUAL-PQ encode replay (requires `v`, `vtrain`, `assign`,
    * `cents$IvfIters` in scope): residual vectors vs the assigned
    * coarse cell, subvector slices, quantization, the PQ codebooks'
    * Lloyd rounds, quantized codebooks (`qc`), and the final code
    * assignment (`fin`). Shared by the codes and ivfpq oracles. */
  private def pqEncodeCtes: String =
    s"""rv AS MATERIALIZED (
       |  SELECT v.vec_id,
       |         list_transform(generate_series(1, $Dim), d -> v.v[d] - c.cv[d]) AS rv
       |  FROM v
       |  JOIN assign a ON a.vec_id = v.vec_id
       |  JOIN cents$IvfIters c ON c.cid = a.cid),
       |sub AS MATERIALIZED (SELECT vec_id, m,
       |               list_slice(rv, m*$PqSubDim+1, m*$PqSubDim+$PqSubDim) AS s
       |        FROM rv, range(0, $PqSubspaces) rm(m)),
       |q AS MATERIALIZED (SELECT vec_id, m,
       |             list_transform(s, x -> CAST(floor(x*1000000.0) AS BIGINT)) AS qs
       |      FROM sub),
       |strain AS MATERIALIZED (SELECT s.* FROM sub s
       |          JOIN vtrain t ON t.vec_id = s.vec_id),
       |qtrain AS MATERIALIZED (SELECT q.* FROM q
       |          JOIN vtrain t ON t.vec_id = q.vec_id),
       |pseed AS (SELECT DISTINCT vec_id FROM strain ORDER BY vec_id LIMIT $PqK),
       |pcents0 AS (SELECT m,
       |              row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS cid,
       |              s AS cv
       |            FROM strain WHERE vec_id IN (SELECT vec_id FROM pseed)),
       |${pqTrainingCtes.mkString(",\n")},
       |qc AS MATERIALIZED (SELECT m, cid,
       |              list_transform(cv, x -> CAST(floor(x*1000000.0) AS BIGINT)) AS qcv
       |       FROM pcents$PqIters),
       |fin AS MATERIALIZED (SELECT vec_id, m, cid FROM (
       |    SELECT s.vec_id, s.m, c.cid,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |             list_dot_product(s.s, s.s) - 2*list_dot_product(s.s, c.cv) + list_dot_product(c.cv, c.cv),
       |             c.cid) AS rn
       |    FROM sub s JOIN pcents$PqIters c ON c.m = s.m) t
       |  WHERE rn = 1)""".stripMargin

  /** The IVF-PQ search replay (requires [[ivfSearchPrefixCtes]] and
    * [[pqEncodeCtes]] names in scope): per-(probe, probed cell)
    * quantized probe residuals, cell-member candidates carrying their
    * cell, the INTEGER residual-ADC shortlist, and the exact-cosine
    * re-rank as `ivfpqq(probe_id, neighbor_id, sim)`. */
  private def ivfPqSearchCtes: String =
    s"""prv AS MATERIALIZED (
       |  SELECT p.probe_id, p.cid,
       |         list_transform(generate_series(1, $Dim), d -> pv.v[d] - c.cv[d]) AS rv
       |  FROM probes p
       |  JOIN v pv ON pv.vec_id = p.probe_id
       |  JOIN cents$IvfIters c ON c.cid = p.cid),
       |ppq AS MATERIALIZED (SELECT probe_id, cid, m,
       |         list_transform(list_slice(rv, m*$PqSubDim+1, m*$PqSubDim+$PqSubDim),
       |                        x -> CAST(floor(x*1000000.0) AS BIGINT)) AS qs
       |       FROM prv, range(0, $PqSubspaces) rm(m)),
       |cand AS MATERIALIZED (SELECT p.probe_id, p.cid, a.vec_id
       |         FROM probes p JOIN assign a
       |           ON a.cid = p.cid AND a.vec_id <> p.probe_id),
       |adc AS (SELECT probe_id, vec_id, CAST(SUM(dd*dd) AS BIGINT) AS adcq FROM (
       |    SELECT cd.probe_id, cd.vec_id, pp.qs[rd.d] - c.qcv[rd.d] AS dd
       |    FROM cand cd, fin f, qc c, ppq pp, range(1, ${PqSubDim + 1}) rd(d)
       |    WHERE f.vec_id = cd.vec_id AND c.m = f.m AND c.cid = f.cid
       |      AND pp.probe_id = cd.probe_id AND pp.cid = cd.cid AND pp.m = f.m) t
       |  GROUP BY probe_id, vec_id),
       |shortlist AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |           row_number() OVER (PARTITION BY probe_id ORDER BY adcq, vec_id) AS rn
       |    FROM adc) t
       |  WHERE rn <= $PqRerank),
       |ivfpqq AS (SELECT probe_id, neighbor_id, sim FROM (
       |  SELECT s.probe_id, s.vec_id AS neighbor_id,
       |         list_dot_product(pv.v, av.v) /
       |         (sqrt(list_dot_product(pv.v, pv.v)) * sqrt(list_dot_product(av.v, av.v))) AS sim,
       |         row_number() OVER (PARTITION BY s.probe_id
       |           ORDER BY list_dot_product(pv.v, av.v) /
       |             (sqrt(list_dot_product(pv.v, pv.v)) * sqrt(list_dot_product(av.v, av.v))) DESC,
       |             s.vec_id) AS rn
       |  FROM shortlist s
       |  JOIN v pv ON pv.vec_id = s.probe_id
       |  JOIN v av ON av.vec_id = s.vec_id) t
       |WHERE rn <= $K)""".stripMargin

  /** The IVF-PQ search oracle: replay BOTH trainings (the IVF coarse
    * quantizer's 5 Lloyd rounds and the PQ codebooks' 2, on residuals),
    * the probe cell election, candidate generation, the INTEGER
    * residual-ADC shortlist, and the exact-cosine re-rank. */
  private def ivfPqOracleSql: String =
    s"""WITH $ivfSearchPrefixCtes,
       |$pqEncodeCtes,
       |$ivfPqSearchCtes
       |SELECT probe_id, neighbor_id, round(sim, 6) AS sim FROM ivfpqq""".stripMargin

  /** The MMR oracle: candidate shortlist + pairwise sims, then the
    * greedy loop as [[MmrK]] unrolled argmax CTEs — step t excludes
    * the t−1 prior picks and orders by the identical double score
    * (`greatest` over scalar sim lookups makes the max order-free). */
  private def mmrOracleSql: String = {
    val cosXY =
      """list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) /
        |           (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[])) *
        |            sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[])))""".stripMargin
    val steps = (1 to MmrK).map { t =>
      val prev = (1 until t).map(j => s"s$j")
      val fromList = (Seq("cand c") ++ prev).mkString(", ")
      val maxSim =
        if (prev.isEmpty) "0"
        else if (prev.size == 1)
          "(SELECT s FROM ps WHERE a_id = c.id AND b_id = s1.p)"
        else prev.map(j => s"(SELECT s FROM ps WHERE a_id = c.id AND b_id = $j.p)")
          .mkString("greatest(", ",\n      ", ")")
      val where =
        if (prev.isEmpty) ""
        else "\n  WHERE " + prev.map(j => s"c.id <> $j.p").mkString(" AND ")
      s"""s$t AS (
         |  SELECT c.id AS p, c.rel, 0.5*c.rel - 0.5*($maxSim) AS score
         |  FROM $fromList$where
         |  ORDER BY score DESC, c.id LIMIT 1)""".stripMargin
    }
    val out = (1 to MmrK).map { t =>
      s"SELECT CAST($t AS BIGINT) AS mmr_rank, p AS vec_id, round(rel, 6) AS rel, round(score, 6) AS mmr_score FROM s$t"
    }
    // AS MATERIALIZED is load-bearing: the greedy steps reference cand
    // and ps from ~45 correlated subqueries, and DuckDB's default CTE
    // inlining re-derives the corpus-scale rel scan inside each —
    // minutes at sf1; materialized, the whole replay is seconds
    s"""WITH rel AS MATERIALIZED (SELECT b.vec_id AS id, $cosineSql AS rel
       |            FROM embeddings a JOIN embeddings b
       |              ON a.vec_id = 0 AND b.vec_id <> 0),
       |cand AS MATERIALIZED (SELECT id, rel FROM (
       |    SELECT id, rel, row_number() OVER (ORDER BY rel DESC, id) AS rn FROM rel) t
       |  WHERE rn <= $MmrCandidates),
       |cv AS MATERIALIZED (SELECT e.vec_id, e.embedding FROM embeddings e JOIN cand ON cand.id = e.vec_id),
       |ps AS MATERIALIZED (SELECT x.vec_id AS a_id, y.vec_id AS b_id,
       |           $cosXY AS s
       |       FROM cv x JOIN cv y ON x.vec_id <> y.vec_id),
       |${steps.mkString(",\n")}
       |${out.mkString("\nUNION ALL ")}""".stripMargin
  }

  /** The PQ oracle: replay the IVF coarse training + assignment (the
    * residual origin), the residual seeding, both PQ Lloyd iterations,
    * the final assignment, and the integer quantized reconstruction
    * error — all via the shared [[pqEncodeCtes]]. */
  private def pqOracleSql: String =
    s"""WITH $ivfAssignCtes,
       |$pqEncodeCtes
       |SELECT vec_id, subspace, code, CAST(SUM(dd*dd) AS BIGINT) AS err_q FROM (
       |  SELECT a.vec_id, a.m AS subspace, a.cid AS code,
       |         q.qs[rd.d] - c.qcv[rd.d] AS dd
       |  FROM fin a, q, qc c, range(1, ${PqSubDim + 1}) rd(d)
       |  WHERE q.vec_id = a.vec_id AND q.m = a.m
       |    AND c.m = a.m AND c.cid = a.cid) t
       |GROUP BY vec_id, subspace, code""".stripMargin

  private val cosineSql =
    """list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))""".stripMargin

  /** One (assign, means, cents) CTE triple per Lloyd iteration.
    * MATERIALIZED throughout: cents$i is referenced by BOTH the next
    * assignment and the next centroid COALESCE, and DuckDB inlining
    * that doubly-referenced chain re-evaluates the whole training
    * prefix per reference — at sf3 the inlined tree spilled past the
    * sandbox disk (the componentCtes/pagerank lesson). Materialized,
    * each frame is computed once; results are unchanged. */
  private def ivfTrainingCtes: Seq[String] =
    (1 to IvfIters).map { i =>
      s"""assign$i AS MATERIALIZED (SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             list_dot_product(v.v, c.cv) /
         |             (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |             c.cid) AS rn
         |    FROM vtrain v, cents${i - 1} c) t
         |  WHERE rn = 1),
         |means$i AS MATERIALIZED (
         |  SELECT cid, list(cd ORDER BY d) AS cv FROM (
         |    SELECT a.cid, rd.d,
         |           CAST(SUM(CAST(floor(v.v[rd.d] * 1000000.0) AS BIGINT)) AS DOUBLE)
         |             / COUNT(*) / 1000000.0 AS cd
         |    FROM assign$i a, vtrain v, range(1, ${Dim + 1}) rd(d)
         |    WHERE v.vec_id = a.vec_id
         |    GROUP BY a.cid, rd.d) s
         |  GROUP BY cid),
         |cents$i AS MATERIALIZED (
         |  SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
         |  FROM cents${i - 1} p LEFT JOIN means$i m ON m.cid = p.cid)""".stripMargin
    }

  /** Supercluster-stage Lloyd CTE triples — [[ivfTrainingCtes]]'
    * arithmetic verbatim under the scents* names (k = S instead of C;
    * the seed CTE `scents0` caps at S). Factored separately so the
    * certified flat-oracle text stays byte-identical. */
  private def superTrainingCtes: Seq[String] =
    (1 to IvfIters).map { i =>
      s"""sassign$i AS MATERIALIZED (SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             list_dot_product(v.v, c.cv) /
         |             (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |             c.cid) AS rn
         |    FROM vtrain v, scents${i - 1} c) t
         |  WHERE rn = 1),
         |smeans$i AS MATERIALIZED (
         |  SELECT cid, list(cd ORDER BY d) AS cv FROM (
         |    SELECT a.cid, rd.d,
         |           CAST(SUM(CAST(floor(v.v[rd.d] * 1000000.0) AS BIGINT)) AS DOUBLE)
         |             / COUNT(*) / 1000000.0 AS cd
         |    FROM sassign$i a, vtrain v, range(1, ${Dim + 1}) rd(d)
         |    WHERE v.vec_id = a.vec_id
         |    GROUP BY a.cid, rd.d) s
         |  GROUP BY cid),
         |scents$i AS MATERIALIZED (
         |  SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
         |  FROM scents${i - 1} p LEFT JOIN smeans$i m ON m.cid = p.cid)""".stripMargin
    }

  /** Keyed per-group Lloyd CTE triples (the [[pqTrainingCtes]] shape
    * keyed by supercluster g instead of subspace m; cosine election
    * like the flat loop): each sample row competes only against ITS
    * group's cells, empty cells COALESCE to their previous value. */
  private def groupTrainingCtes: Seq[String] =
    (1 to IvfIters).map { i =>
      s"""gassign$i AS MATERIALIZED (SELECT vec_id, g, lcid FROM (
         |    SELECT t.vec_id, t.g, c.lcid,
         |           row_number() OVER (PARTITION BY t.vec_id ORDER BY
         |             list_dot_product(t.v, c.cv) /
         |             (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |             c.lcid) AS rn
         |    FROM gtrain t JOIN gcents${i - 1} c ON c.g = t.g) x
         |  WHERE rn = 1),
         |gmeans$i AS MATERIALIZED (
         |  SELECT g, lcid, list(cd ORDER BY d) AS cv FROM (
         |    SELECT a.g, a.lcid, rd.d,
         |           CAST(SUM(CAST(floor(t.v[rd.d] * 1000000.0) AS BIGINT)) AS DOUBLE)
         |             / COUNT(*) / 1000000.0 AS cd
         |    FROM gassign$i a, gtrain t, range(1, ${Dim + 1}) rd(d)
         |    WHERE t.vec_id = a.vec_id
         |    GROUP BY a.g, a.lcid, rd.d) s
         |  GROUP BY g, lcid),
         |gcents$i AS MATERIALIZED (
         |  SELECT p.g, p.lcid, COALESCE(m.cv, p.cv) AS cv
         |  FROM gcents${i - 1} p LEFT JOIN gmeans$i m ON m.g = p.g AND m.lcid = p.lcid)""".stripMargin
    }

  /** The full two-level-quantizer replay, mirroring
    * [[trainIvfCentroidsHier]] + [[ivfAssignHierOf]] stage by stage:
    * S = ⌈√C⌉ from COUNT(*); supercluster Lloyd over the sample;
    * sample grouped by FINAL supercentroid (strict-max, min-g ties);
    * [[allocateCells]]' largest-deficit loop as a RECURSIVE CTE over a
    * cells list (quota = C·(sz/n) in the identical double arithmetic;
    * `list_position` of the max deficit = the Scala scan's first-max /
    * lowest-g election); per-group seeds = the budget lowest sampled
    * ids (row_number ≤ b), padded with the group's supercentroid;
    * IvfIters keyed group-Lloyd rounds; then the two-stage full-corpus
    * assignment with global cid = window-sum offset + local cell.
    * Callers must open with WITH RECURSIVE.
    *
    * The corpus-scale elections (fsup / hassign) are HASH-AGG shaped,
    * not window-shaped: max(s) per vector, then min cell id among the
    * exact-equal maxima (ties only arise from duplicate pad centroids,
    * and min-id-among-max ≡ the kernel's strict-> ascending scan).
    * Two n=6M replay failures taught the shape: (1) windowing the
    * row_number election directly over the vector×centroid join
    * carries the 64-dim DOUBLE[] through the sort — 234M wide rows,
    * ~0.1 TB of spill, ENOSPC; (2) even over narrow materialized
    * (vec_id, cid, s) frames, two 225M-row PARTITION BY sorts spilled
    * past 68 GB. Hash aggregation over the same narrow frames needs
    * only 6M-group tables. Norms are precomputed once per vector (in
    * `v`) and per centroid (fsc/gcn) — same doubles, one dot per
    * scored row instead of three. The `hvin` boundary pins the group
    * assignment's vector join to run BEFORE the cell fan-out: left as
    * one three-way join, the optimizer is free to join the tiny cell
    * frame first, and the 225M-row fan-out then carries the 64-dim
    * centroid list per row (~0.1 TB again — the third n=6M ENOSPC).
    * Materialized at 6M rows, the fan-out probe streams through the
    * cell hash table straight into the narrow projection. */
  private def hierAssignCtes: String = {
    val I = IvfIters
    val deficits = "list_transform(range(1, len(a.cells) + 1), j -> q.q[j] - a.cells[j])"
    s"""v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
       |       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
       |     FROM embeddings),
       |$vtrainCtes,
       |nc AS (SELECT GREATEST($IvfCells, COUNT(*) // $TargetCellSize) AS c,
       |              CAST(CEIL(SQRT(CAST(GREATEST($IvfCells, COUNT(*) // $TargetCellSize) AS DOUBLE))) AS BIGINT) AS s
       |       FROM embeddings),
       |scents0 AS (SELECT rn - 1 AS cid, cv FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, v AS cv FROM vtrain) t
       |  WHERE rn <= (SELECT s FROM nc)),
       |${superTrainingCtes.mkString(",\n")},
       |gsims AS MATERIALIZED (SELECT v.vec_id, c.cid,
       |           list_dot_product(v.v, c.cv) /
       |           (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS s
       |         FROM vtrain v, scents$I c),
       |gtrain AS MATERIALIZED (SELECT e.vec_id, e.g, v.v FROM (
       |    SELECT vec_id, cid AS g,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM gsims) e
       |  JOIN vtrain v ON v.vec_id = e.vec_id
       |  WHERE e.rn = 1),
       |gsizes AS (SELECT c.cid AS g, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS sz
       |           FROM scents0 c LEFT JOIN (
       |             SELECT g, COUNT(*) AS n FROM gtrain GROUP BY g) cnt ON cnt.g = c.cid),
       |quota AS (SELECT list(CAST(nc.c AS DOUBLE) * (CAST(gsizes.sz AS DOUBLE) / t.tot) ORDER BY gsizes.g) AS q
       |          FROM gsizes, nc,
       |               (SELECT CAST(GREATEST(1, SUM(sz)) AS DOUBLE) AS tot FROM gsizes) t),
       |alloc AS (
       |  SELECT 0 AS step, (SELECT list(1 ORDER BY g) FROM gsizes) AS cells
       |  UNION ALL
       |  SELECT a.step + 1,
       |         list_transform(range(1, len(a.cells) + 1),
       |           i -> a.cells[i] + CASE WHEN i = list_position($deficits,
       |                  list_aggregate($deficits, 'max'))
       |                THEN 1 ELSE 0 END)
       |  FROM alloc a, quota q, nc
       |  WHERE a.step < nc.c - nc.s),
       |budget AS (SELECT cells FROM alloc, nc WHERE step = nc.c - nc.s),
       |budgets AS (SELECT c.cid AS g, CAST(b.cells[CAST(c.cid AS INT) + 1] AS BIGINT) AS b
       |            FROM scents0 c, budget b),
       |offsets AS (SELECT g, b,
       |              CAST(COALESCE(SUM(b) OVER (ORDER BY g
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |            FROM budgets),
       |gseeds AS (SELECT x.g, x.rn - 1 AS lcid, x.v AS cv FROM (
       |    SELECT t.g, t.vec_id, t.v,
       |           row_number() OVER (PARTITION BY t.g ORDER BY t.vec_id) AS rn
       |    FROM gtrain t) x
       |  JOIN budgets bu ON bu.g = x.g AND x.rn <= bu.b),
       |gown AS (SELECT bu.g, bu.b, LEAST(bu.b, gs.sz) AS own
       |         FROM budgets bu JOIN gsizes gs ON gs.g = bu.g),
       |gcents0 AS MATERIALIZED (
       |  SELECT g, lcid, cv FROM gseeds
       |  UNION ALL
       |  SELECT o.g, o.own + unnest(range(0, o.b - o.own)) AS lcid, sc.cv
       |  FROM gown o JOIN scents$I sc ON sc.cid = o.g),
       |${groupTrainingCtes.mkString(",\n")},
       |fsc AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS nc FROM scents$I),
       |fsims AS MATERIALIZED (SELECT v.vec_id, c.cid,
       |           list_dot_product(v.v, c.cv) / (v.nv * c.nc) AS s
       |         FROM v, fsc c),
       |fsmax AS (SELECT vec_id, max(s) AS smax FROM fsims GROUP BY vec_id),
       |fsup AS MATERIALIZED (SELECT f.vec_id, CAST(min(f.cid) AS BIGINT) AS g
       |  FROM fsims f JOIN fsmax m ON m.vec_id = f.vec_id AND f.s = m.smax
       |  GROUP BY f.vec_id),
       |gcn AS (SELECT g, lcid, cv, sqrt(list_dot_product(cv, cv)) AS nc FROM gcents$I),
       |hvin AS MATERIALIZED (SELECT f.vec_id, f.g, vv.v, vv.nv, o.off
       |        FROM fsup f
       |        JOIN v vv ON vv.vec_id = f.vec_id
       |        JOIN offsets o ON o.g = f.g),
       |hsims AS MATERIALIZED (SELECT h.vec_id, c.lcid, h.off,
       |           list_dot_product(h.v, c.cv) / (h.nv * c.nc) AS s
       |         FROM hvin h JOIN gcn c ON c.g = h.g),
       |hsmax AS (SELECT vec_id, max(s) AS smax FROM hsims GROUP BY vec_id),
       |hassign AS MATERIALIZED (
       |  SELECT h.vec_id, CAST(min(h.off + h.lcid) AS BIGINT) AS cid
       |  FROM hsims h JOIN hsmax m ON m.vec_id = h.vec_id AND h.s = m.smax
       |  GROUP BY h.vec_id)""".stripMargin
  }

  /** The banded sign-LSH bucket CTE (band = j div LshBits over the
    * hyperplane family; bucket bit j mod LshBits) — shared by the
    * near-dup and kNN-graph oracles.
    *
    * `bb` is `AS MATERIALIZED` in both banding CTEs below — DuckDB
    * inlines plain CTEs per reference, and the banded-bucket frame is
    * referenced 2–4× downstream (self-join sides, cap window, occ
    * census, the over-cap probe census), each replaying the
    * n·bands·bits·dim projection hash-agg whose GROUP BY carries the
    * embedding ARRAY as a key. Four concurrent replays pushed the
    * sf10 knn_graph_recall oracle past 50 GB for a 200k-vector
    * corpus; materialized, bb is one pass and ~n·bands narrow rows. */
  private val bandBucketsCte =
    s"""bb AS MATERIALIZED (
       |  SELECT vec_id, embedding, band,
       |         SUM(CASE WHEN dj > 0 THEN (1::BIGINT << (j % $LshBits)) ELSE 0 END) AS bucket
       |  FROM (
       |    SELECT vec_id, embedding, j, j // $LshBits AS band,
       |           SUM(embedding[d]::DOUBLE *
       |               (CASE WHEN CAST(('0x' || substring(md5(j || '_' || (d-1)), 1, 15)) AS BIGINT) % 2 = 0
       |                     THEN 1.0 ELSE -1.0 END)) AS dj
       |    FROM embeddings, range(0, ${NeardupBands * LshBits}) rj(j), range(1, ${Dim + 1}) rd(d)
       |    GROUP BY vec_id, embedding, j) s
       |  GROUP BY vec_id, embedding, band)""".stripMargin

  /** The knn band/bucket CTEs (the bits-ladder `nb` + the dynamic-bits
    * banded-bucket frame `bb`) — shared prefix of the kNN-graph and
    * bucket-audit oracles. */
  private lazy val knnBandedCtes: String = {
    val ladder = (LshBits until KnnMaxBits)
      .map(b => s"WHEN n <= ${KnnTargetOcc.toLong << b} THEN $b")
      .mkString("\n             ")
    s"""nb AS (SELECT CASE $ladder
       |             ELSE $KnnMaxBits END AS bits
       |           FROM (SELECT COUNT(*) AS n FROM embeddings) t),
       |bb AS MATERIALIZED (
       |  SELECT vec_id, embedding, band,
       |         SUM(CASE WHEN dj > 0 THEN (1::BIGINT << bitpos) ELSE 0 END) AS bucket
       |  FROM (
       |    SELECT e.vec_id, e.embedding, rj.j // nb.bits AS band, rj.j % nb.bits AS bitpos,
       |           SUM(e.embedding[rd.d]::DOUBLE *
       |               (CASE WHEN CAST(('0x' || substring(md5(rj.j || '_' || (rd.d-1)), 1, 15)) AS BIGINT) % 2 = 0
       |                     THEN 1.0 ELSE -1.0 END)) AS dj
       |    FROM embeddings e, nb, range(0, ${NeardupBands * KnnMaxBits}) rj(j), range(1, ${Dim + 1}) rd(d)
       |    WHERE rj.j < $NeardupBands * nb.bits
       |    GROUP BY e.vec_id, e.embedding, rj.j, nb.bits) s
       |  GROUP BY vec_id, embedding, band)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the DISTINCT collapses pairs matching in several bands (their
    // rows are identical: same inputs, same arithmetic)
    "embedding_neardup_lsh" ->
      s"""WITH $bandBucketsCte
         |SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2, round($cosineSql, 6) AS sim
         |FROM bb a JOIN bb b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE $cosineSql >= 0.35""".stripMargin,
    // bits ladder (smallest b ≥ LshBits with n ≤ occ·2^b) replayed as
    // an integer CASE ladder from COUNT(*) — no libm log2; the bb CTE
    // is the dynamic-bits twin of bandBucketsCte with the identical
    // global plane index j (shared with the bucket-audit oracle)
    "knn_graph_lsh" ->
      s"""WITH $knnBandedCtes,
         |bbc AS (SELECT vec_id, band, bucket FROM (
         |    SELECT vec_id, band, bucket,
         |           row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rn
         |    FROM bb) t
         |  WHERE rn <= $KnnBucketCap),
         |cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |         FROM bb a JOIN bbc b
         |           ON a.band = b.band AND a.bucket = b.bucket
         |          AND a.vec_id <> b.vec_id)
         |SELECT vec_id, nn_rank, neighbor_id, sim FROM (
         |  SELECT c.id1 AS vec_id, c.id2 AS neighbor_id, round($cosineSql, 6) AS sim,
         |         row_number() OVER (PARTITION BY c.id1
         |                            ORDER BY $cosineSql DESC, c.id2) AS nn_rank
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id1
         |  JOIN embeddings b ON b.vec_id = c.id2) t
         |WHERE nn_rank <= $KnnGraphK""".stripMargin,
    // the probe slice of the capped graph: same bbc lowest-id neighbor
    // cap, cand probe-filtered — identical per-probe rows to the full
    // build, feasible for DuckDB at any SF
    "knn_graph_lsh_slice" ->
      s"""WITH $knnBandedCtes,
         |bbc AS (SELECT vec_id, band, bucket FROM (
         |    SELECT vec_id, band, bucket,
         |           row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rn
         |    FROM bb) t
         |  WHERE rn <= $KnnBucketCap),
         |cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |         FROM bb a JOIN bbc b
         |           ON a.band = b.band AND a.bucket = b.bucket
         |          AND a.vec_id <> b.vec_id
         |         WHERE a.vec_id < $NumProbes)
         |SELECT vec_id, nn_rank, neighbor_id, sim FROM (
         |  SELECT c.id1 AS vec_id, c.id2 AS neighbor_id, round($cosineSql, 6) AS sim,
         |         row_number() OVER (PARTITION BY c.id1
         |                            ORDER BY $cosineSql DESC, c.id2) AS nn_rank
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id1
         |  JOIN embeddings b ON b.vec_id = c.id2) t
         |WHERE nn_rank <= $KnnGraphK""".stripMargin,
    // the graph-build recall census: the FULL capped-graph replay
    // (same bbc lowest-id slice, cand probe-filtered — identical
    // per-probe rows, since the cap applies to the neighbor side
    // globally) against the exact brute-force top-k for the same
    // probes, per-probe hit count
    "knn_graph_recall" ->
      s"""WITH $knnBandedCtes,
         |bbc AS (SELECT vec_id, band, bucket FROM (
         |    SELECT vec_id, band, bucket,
         |           row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rn
         |    FROM bb) t
         |  WHERE rn <= $KnnBucketCap),
         |cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |         FROM bb a JOIN bbc b
         |           ON a.band = b.band AND a.bucket = b.bucket
         |          AND a.vec_id <> b.vec_id
         |         WHERE a.vec_id < $NumProbes),
         |graphq AS (SELECT vec_id, neighbor_id FROM (
         |  SELECT c.id1 AS vec_id, c.id2 AS neighbor_id,
         |         row_number() OVER (PARTITION BY c.id1
         |                            ORDER BY $cosineSql DESC, c.id2) AS nn_rank
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id1
         |  JOIN embeddings b ON b.vec_id = c.id2) t
         |WHERE nn_rank <= $KnnGraphK),
         |exact AS (SELECT probe_id, neighbor_id FROM (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY a.vec_id
         |                            ORDER BY $cosineSql DESC, b.vec_id) AS rn
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < $NumProbes) t
         |WHERE rn <= $K),
         |hits AS (SELECT e.probe_id, count(*) AS found
         |         FROM exact e JOIN graphq g
         |           ON g.vec_id = e.probe_id AND g.neighbor_id = e.neighbor_id
         |         GROUP BY 1),
         |occ AS (SELECT band, bucket, count(*) AS occ
         |        FROM bb GROUP BY 1, 2),
         |ocb AS (SELECT b.vec_id AS probe_id, count(*) AS over_cap_buckets
         |        FROM bb b JOIN occ o ON o.band = b.band AND o.bucket = b.bucket
         |        WHERE b.vec_id < $NumProbes AND o.occ > $KnnBucketCap
         |        GROUP BY 1)
         |SELECT p.probe_id, CAST(COALESCE(h.found, 0) AS BIGINT) AS found,
         |       round(CAST(COALESCE(h.found, 0) AS DOUBLE) / $KnnGraphK, 6) AS recall,
         |       CAST(COALESCE(o.over_cap_buckets, 0) AS BIGINT) AS over_cap_buckets
         |FROM (SELECT DISTINCT probe_id FROM exact) p
         |LEFT JOIN hits h ON h.probe_id = p.probe_id
         |LEFT JOIN ocb o ON o.probe_id = p.probe_id""".stripMargin,
    // the vector-side twin of lsh_bucket_audit: same banding, same
    // census shape, over_cap flags what KnnBucketCap would trim
    "knn_bucket_audit" ->
      s"""WITH $knnBandedCtes,
         |occ AS (SELECT band, bucket, count(*) AS occupancy
         |        FROM bb GROUP BY 1, 2)
         |SELECT CAST(band AS INT) AS band, occupancy, count(*) AS n_buckets,
         |       occupancy * (occupancy - 1) // 2 * count(*) AS candidate_pairs,
         |       occupancy > $KnnBucketCap AS over_cap
         |FROM occ GROUP BY band, occupancy""".stripMargin,
    "embedding_pq_codes" -> pqOracleSql,
    // the stored artifact must equal a from-scratch recompute
    "embedding_pq_codes_indexed" -> pqOracleSql,
    "similar_ann_ivfpq" -> ivfPqOracleSql,
    "mmr_diversify" -> mmrOracleSql,
    "embedding_quantize" ->
      """SELECT vec_id,
        |       CASE WHEN m = 0 THEN 0 ELSE CAST(list_sum(
        |         list_transform(v, x -> CAST(floor(x * 127.0 / m) AS BIGINT))) AS BIGINT)
        |       END AS q_sum,
        |       round(m, 6) AS scale
        |FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
        |      FROM embeddings)""".stripMargin,
    "similar_topk" ->
      s"""SELECT probe_id, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         $cosineSql AS sim,
         |         row_number() OVER (PARTITION BY a.vec_id
         |                            ORDER BY $cosineSql DESC, b.vec_id) AS rn
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < $NumProbes) t
         |WHERE rn <= $K""".stripMargin,
    // The training replay: cents0 = first-C seed; each iteration is
    // argmax-cosine assignment against cents(i-1), then per-cell
    // per-dimension means over floor(x·10⁶) BIGINT quantized values —
    // exact integer sums, so the means match Spark's bit-for-bit
    // regardless of aggregation order. COALESCE keeps an empty cell's
    // previous centroid, mirroring the Spark loop.
    "similar_ann_ivf" ->
      s"""WITH $ivfSearchPrefixCtes
         |SELECT probe_id, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT p.probe_id, a.vec_id AS neighbor_id,
         |         list_dot_product(pv.v, av.v) /
         |         (sqrt(list_dot_product(pv.v, pv.v)) * sqrt(list_dot_product(av.v, av.v))) AS sim,
         |         row_number() OVER (PARTITION BY p.probe_id
         |           ORDER BY list_dot_product(pv.v, av.v) /
         |             (sqrt(list_dot_product(pv.v, pv.v)) * sqrt(list_dot_product(av.v, av.v))) DESC,
         |             a.vec_id) AS rn
         |  FROM probes p
         |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.probe_id
         |  JOIN v pv ON pv.vec_id = p.probe_id
         |  JOIN v av ON av.vec_id = a.vec_id) t
         |WHERE rn <= $K""".stripMargin,
    // training replay + assignment, then the in-cluster keep-min-id
    // election: a vector is pruned iff some SAME-cluster vector with a
    // lower id sits at or above the cosine threshold
    "semdedup_prune" ->
      s"""WITH $ivfAssignCtes,
         |av AS MATERIALIZED (SELECT a.cid, a.vec_id, v.v FROM assign a JOIN v ON v.vec_id = a.vec_id),
         |dropped AS (
         |  SELECT DISTINCT b.cid, b.vec_id
         |  FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) /
         |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         |        >= $NeardupCosine)
         |SELECT t.cid, CAST(count(*) AS BIGINT) AS n_vectors,
         |       CAST(count(d.vec_id) AS BIGINT) AS n_pruned,
         |       CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
         |FROM av t LEFT JOIN dropped d ON d.cid = t.cid AND d.vec_id = t.vec_id
         |GROUP BY t.cid""".stripMargin,
    // the forced two-level replay (WITH RECURSIVE for the
    // largest-deficit allocation loop), reduced to the per-cell census
    "hier_cluster_balance" ->
      s"""WITH RECURSIVE $hierAssignCtes
         |SELECT cid, count(*) AS n_vectors FROM hassign GROUP BY cid""".stripMargin,
    // same training replay, reduced to the final per-cell census
    "embedding_cluster_balance" ->
      s"""WITH $ivfAssignCtes
         |SELECT cid, count(*) AS n_vectors FROM assign GROUP BY cid""".stripMargin,
    // the PSI replayed over the same trained assignment: cells come
    // from cents0 (exactly C rows, ids 0..C-1), smoothing uses the
    // same C, terms rounded to 12 decimals and DECIMAL-summed
    "embedding_drift_psi" ->
      s"""WITH $ivfAssignCtes,
         |per_cell AS (
         |  SELECT cid,
         |         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         |         CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch
         |  FROM assign GROUP BY cid),
         |tot AS (
         |  SELECT SUM(n_ref) AS tot_ref, SUM(n_batch) AS tot_batch,
         |         (SELECT COUNT(*) FROM cents0) AS nc
         |  FROM per_cell),
         |terms AS (
         |  SELECT c.cid,
         |         coalesce(p.n_ref, 0) AS n_ref,
         |         coalesce(p.n_batch, 0) AS n_batch,
         |         (coalesce(p.n_ref, 0) + 0.5) / (t.tot_ref + t.nc * 0.5) AS p_ref,
         |         (coalesce(p.n_batch, 0) + 0.5) / (t.tot_batch + t.nc * 0.5) AS p_batch
         |  FROM (SELECT cid FROM cents0) c
         |  LEFT JOIN per_cell p ON p.cid = c.cid
         |  CROSS JOIN tot t),
         |dec AS (
         |  SELECT *, CAST(round((p_batch - p_ref) * ln(p_batch / p_ref), 12)
         |                 AS DECIMAL(24, 12)) AS term
         |  FROM terms)
         |SELECT cid, n_ref, n_batch,
         |       round(p_ref, 6) AS p_ref, round(p_batch, 6) AS p_batch,
         |       round(CAST(term AS DOUBLE), 6) AS psi_term,
         |       round(CAST(SUM(term) OVER () AS DOUBLE), 6) AS psi
         |FROM dec""".stripMargin,
    "similar_ann_lsh" ->
      s"""WITH $lshBucketsCte
         |SELECT probe_id, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         $cosineSql AS sim,
         |         row_number() OVER (PARTITION BY a.vec_id
         |                            ORDER BY $cosineSql DESC, b.vec_id) AS rn
         |  FROM buckets a JOIN buckets b
         |    ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < $NumProbes) t
         |WHERE rn <= $K""".stripMargin,
    // multi-probe: candidate buckets within Hamming distance 1 of the
    // probe's bucket (bit_count(xor) <= 1 covers "same" + "one flip")
    "similar_ann_multiprobe" ->
      s"""WITH $lshBucketsCte
         |SELECT probe_id, neighbor_id, round(sim, 6) AS sim FROM (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
         |         $cosineSql AS sim,
         |         row_number() OVER (PARTITION BY a.vec_id
         |                            ORDER BY $cosineSql DESC, b.vec_id) AS rn
         |  FROM buckets a JOIN buckets b
         |    ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < $NumProbes) t
         |WHERE rn <= $K""".stripMargin,
    // recall@K: each variant's id set replayed (the exact scan, the
    // two bucket joins, the full IVF training + search, and the
    // complete residual IVF-PQ pipeline), then the per-(probe, method)
    // hit count against the exact set — a probe cross the method
    // census so empty-candidate probes keep a 0 row
    "ann_recall" -> {
      def topkIds(from: String) =
        s"""SELECT probe_id, neighbor_id FROM (
           |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           |         row_number() OVER (PARTITION BY a.vec_id
           |                            ORDER BY $cosineSql DESC, b.vec_id) AS rn
           |  FROM $from
           |  WHERE a.vec_id < $NumProbes) t
           |WHERE rn <= $K""".stripMargin
      s"""WITH $lshBucketsCte,
         |exact AS (${topkIds("embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id")}),
         |lshq AS (${topkIds("buckets a JOIN buckets b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id")}),
         |mpq AS (${topkIds("buckets a JOIN buckets b ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND b.vec_id <> a.vec_id")}),
         |$ivfSearchPrefixCtes,
         |ivfq AS (SELECT probe_id, neighbor_id FROM (
         |  SELECT p.probe_id, a.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY p.probe_id
         |           ORDER BY list_dot_product(pv.v, av.v) /
         |             (sqrt(list_dot_product(pv.v, pv.v)) * sqrt(list_dot_product(av.v, av.v))) DESC,
         |             a.vec_id) AS rn
         |  FROM probes p
         |  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.probe_id
         |  JOIN v pv ON pv.vec_id = p.probe_id
         |  JOIN v av ON av.vec_id = a.vec_id) t
         |WHERE rn <= $K),
         |$pqEncodeCtes,
         |$ivfPqSearchCtes,
         |allm AS (SELECT 'lsh' AS method, probe_id, neighbor_id FROM lshq
         |         UNION ALL SELECT 'multiprobe', probe_id, neighbor_id FROM mpq
         |         UNION ALL SELECT 'ivf', probe_id, neighbor_id FROM ivfq
         |         UNION ALL SELECT 'ivfpq', probe_id, neighbor_id FROM ivfpqq),
         |pm AS (SELECT p.probe_id, m.method
         |       FROM (SELECT DISTINCT probe_id FROM exact) p
         |       CROSS JOIN (SELECT 'lsh' AS method UNION ALL
         |                   SELECT 'multiprobe' UNION ALL SELECT 'ivf'
         |                   UNION ALL SELECT 'ivfpq') m),
         |hits AS (SELECT am.method, e.probe_id, count(*) AS found
         |         FROM exact e JOIN allm am
         |           ON am.probe_id = e.probe_id AND am.neighbor_id = e.neighbor_id
         |         GROUP BY am.method, e.probe_id)
         |SELECT pm.probe_id, pm.method,
         |       CAST(COALESCE(h.found, 0) AS BIGINT) AS found,
         |       round(CAST(COALESCE(h.found, 0) AS DOUBLE) / $K, 6) AS recall
         |FROM pm LEFT JOIN hits h
         |  ON h.probe_id = pm.probe_id AND h.method = pm.method""".stripMargin
    })

  private lazy val lshBucketsCte =
    s"""buckets AS (
       |  SELECT vec_id, embedding,
       |         SUM(CASE WHEN dj > 0 THEN (1::BIGINT << j) ELSE 0 END) AS bucket
       |  FROM (
       |    SELECT vec_id, embedding, j,
       |           SUM(embedding[d]::DOUBLE *
       |               (CASE WHEN CAST(('0x' || substring(md5(j || '_' || (d-1)), 1, 15)) AS BIGINT) % 2 = 0
       |                     THEN 1.0 ELSE -1.0 END)) AS dj
       |    FROM embeddings, range(0, $LshBits) rj(j), range(1, ${Dim + 1}) rd(d)
       |    GROUP BY vec_id, embedding, j) s
       |  GROUP BY vec_id, embedding)""".stripMargin
}

case class Scored(probe_id: Long, neighbor_id: Long, sim: Double)
case class Neighbor(sim: Double, id: Long)
