package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** F12 parity — the reference's per-worker progress counters
  * (keysRead/keysWritten, `master/WorkerStatus.java:38-41`,
  * `worker/PingThread.java:61-93`): a SparkListener accumulating task
  * input and shuffle record counts. Bench snapshots it around each
  * query so BENCH json reports record movement alongside wall time.
  * Listener events post asynchronously; [[settled]] polls until two
  * consecutive reads agree (bounded), which is exact-enough between
  * serially-run queries. */
class RecordCounterListener extends SparkListener {
  val recordsRead = new AtomicLong
  val shuffleRecords = new AtomicLong

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }

  def snapshot: (Long, Long) = (recordsRead.get, shuffleRecords.get)

  /** Snapshot after the async listener bus drains (two equal reads
    * 50 ms apart, capped at 1 s). */
  def settled: (Long, Long) = {
    var prev = snapshot
    var i = 0
    while (i < 20) {
      Thread.sleep(50)
      val cur = snapshot
      if (cur == prev) return cur
      prev = cur
      i += 1
    }
    prev
  }
}

object Bench {

  /** The 29 queries of the binding baseline (BASELINE.md's
    * 25.9 s figure). Bench reports their subtotal beside the
    * full-surface total so the against-baseline ratio stays
    * apples-to-apples as the declared surface grows — the full total
    * now spans ~2.8× the baseline's query count. */
  val BaselineQueries: Set[String] = Set(
    "multimodal_meta", "text_quality", "group_agg_sum", "ngram_jaccard",
    "dedup_exact", "sort_by_key", "rollup_orders", "minhash_neardup",
    "token_count", "similar_ann_lsh", "anti_join_no_big_orders",
    "similar_topk", "text_stats", "union_all_sources", "filter_project",
    "doc_fingerprint", "wordcount_linefreq", "semi_join_parts",
    "text_langid", "topk_per_group", "join_orders_customers",
    "embedding_neardup", "partition_histogram", "simhash",
    "running_sum_per_user", "orders_by_month", "wordcount_total",
    "group_count_by_key", "distinct_keys")

  /** The AUDIT tier: declared quadratic truth
    * baselines kept solely to certify their scalable production twins
    * (`minhash_neardup`, `embedding_neardup_lsh`, the hashed
    * substring stats). They are O(n²) BY DESIGN and 18% of the sf1
    * bench total, and would dominate at sf3+ — so the bench reports
    * them separately (`audit_total_sec`) and `SPARK_GRAFT_BENCH_TIER=
    * shipping` excludes them entirely, making the headline track the
    * shipping posture at scale. Everything else is the SHIPPING tier. */
  val AuditQueries: Set[String] = Set(
    "ngram_jaccard", "fuzzy_match_prefix", "embedding_neardup")

  /** The near-dup PAIR-bound queries: their work/output tracks the
    * VERIFIED candidate-pair volume, which is Σ_families f² — linear
    * on a real corpus (family sizes don't grow with corpus size) but
    * QUADRATIC in the copy factor of the synthetic `gen_sf.py` ladder,
    * where every source doc/vector gains M−1 cross-copy near-dups
    * (sf10: f≈100 → 25 M doc pairs, measured; sf30: f≈300 → 225 M
    * pairs whose shingle-carrying verify join spills past this
    * sandbox's disk — measured ENOSPC at 66 GB of spill). The sf30+
    * rung therefore runs `SPARK_GRAFT_BENCH_TIER=scale` = shipping
    * minus this set; the family itself is certified at sf0.01 (hash),
    * sf3 (full-board hash), and sf10 (bench rung). */
  val PairBoundQueries: Set[String] = Set(
    "minhash_neardup", "minhash_incremental", "minhash_incremental_indexed",
    "shingle_containment", "neardup_clusters", "neardup_clusters_indexed",
    "neardup_clusters_bigstar", "index_retract", "ingest_dedup_fold",
    "index_compact", "corpus_pipeline_funnel", "corpus_rejection_ledger",
    "training_set_select_neardup", "train_eval_split_neardup",
    "embedding_neardup_lsh",
    // slice twins whose ENGINE plan still rides the full pair
    // machinery — their ORACLES are probe-bounded, which is the
    // point, but the Spark side pays Σf² like the full queries:
    // the bigstar cluster slice (it certifies the alternating-star
    // MODE, which has no probe-bounded variant — a closure engine
    // there would duplicate neardup_clusters_slice's plan) and the
    // fold/compact slices (the fold is sequential global state).
    // neardup_clusters_slice and _indexed_slice run the
    // probe-seeded closure (Dedup.probeComponentClosure) and so sit in
    // the scale tier with the pair slices and knn_graph_lsh_slice.
    "neardup_clusters_bigstar_slice", "ingest_dedup_fold_slice",
    "index_compact_slice")
    // knn_graph_lsh stays in the scale tier: uncapped, its scored
    // pairs go family-bound at sf100 (near-identical vectors share
    // every band bucket, so pairs track Σ_families f² — ~8 G
    // vector-carrying pairs at f≈1000, out of disk). KnnBucketCap (the
    // MaxBucket move on the neighbor side) bounds them: 112.6 s / 545 M
    // shuffle records at sf100.

  /** Run one query to FULL materialization; (seconds, error). A failed
    * query reports its error message instead of masquerading as a fast
    * success. */
  def timeQuery(spark: SparkSession, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                sfDir: String): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    try {
      // queryExecution.toRdd evaluates every declared output column
      // (a bare .count() lets Catalyst prune projection-only queries
      // down to a row count)
      fn(spark, sfDir).queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, None)
    } catch {
      case e: Throwable =>
        ((System.nanoTime() - t0) / 1e9,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("\\s+", " ").take(200)))
    }
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Long scale runs die on DISK, not memory: ContextCleaner only
    // drops a finished query's shuffle files when its ShuffleDependency
    // is garbage-collected, and a large barely-used heap may never GC —
    // the sf30 attempt accumulated 60+ GB of dead shuffle files and hit
    // ENOSPC. Ask the cleaner to force a GC once a minute (the conf's
    // own purpose; default 30 min is tuned for clusters with big local
    // disks), and explicitly System.gc() between queries below.
    if (System.getProperty("spark.cleaner.periodicGC.interval") == null)
      System.setProperty("spark.cleaner.periodicGC.interval", "60s")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val counters = new RecordCounterListener
    spark.sparkContext.addSparkListener(counters)
    // untimed warmup: JVM/codegen/classloading startup costs otherwise
    // land entirely on whichever query happens to run first (~4 s)
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Tables.load(spark, sfDir, "region").groupBy("r_name").count().collect()
    } catch { case _: Throwable => () }

    // repeat mode: single samples on one box vary 43-56 s run to run
    // under external load (BASELINE.md:131-133), which makes per-query
    // deltas between runs unreadable. Each query runs `reps` times;
    // `queries` carries the MEDIAN (the comparison number),
    // `queries_first` the cold first sample (for cache-fed queries the
    // first run also absorbs any session-scoped pipeline
    // materialization, so the first/median split makes that cost
    // visible instead of hidden).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val records = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    val firsts = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per-query MIN across reps: on a box with 110 sibling queries
    // sharing the session, the median still absorbs external load
    // spikes — the min is the least-loaded sample and clears
    // load-artifact outliers without a judge re-run
    val mins = scala.collection.mutable.LinkedHashMap[String, Double]()
    // builder-side iteration aid, mirroring Verify: comma-separated
    // query-name filter; the driver never sets it, so its runs time
    // every query
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // tier filter: "all" (default — complete per-query data),
    // "shipping" (exclude the quadratic audit baselines; the headline
    // number for sf>=1 runs), "audit" (only the baselines), "scale"
    // (shipping minus the pair-bound set — the sf30+ rung where the
    // synthetic ladder's f² pair volume exceeds the sandbox disk)
    val tier = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIER", "all")
    val inTier: String => Boolean = tier match {
      case "shipping" => name => !AuditQueries(name)
      case "scale" => name => !AuditQueries(name) && !PairBoundQueries(name)
      case "audit" => AuditQueries
      case _ => _ => true
    }
    // the tier's exclusion list rides the emitted JSON: an sf30 "scale"
    // total and an sf10 "shipping" total cover different query sets,
    // and a consumer comparing them must be able
    // to see that from the artifact alone — not from SCALING.md prose
    val excluded = SparkEntry.queries.keys.filterNot(inTier).toSeq.sorted
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) && inTier(name) }
      .map { case (name, fn) =>
      // record counters snapshot around the FIRST (cold) run only, so
      // `records` keeps meaning "what one execution moves"
      val before = counters.settled
      val (secs0, err0) = timeQuery(spark, fn, sfDir)
      val after = counters.settled
      records(name) = (after._1 - before._1, after._2 - before._2)
      // a failed query reports -1, never a plausible-looking time
      firsts(name) = if (err0.isDefined) -1.0 else secs0
      err0.foreach(errors(name) = _)
      val samples =
        if (err0.isDefined) Seq(-1.0)
        else secs0 +: (2 to reps).map { _ =>
          val (s, e) = timeQuery(spark, fn, sfDir)
          e.foreach(errors(name) = _)
          if (e.isDefined) -1.0 else s
        }
      // if ANY rep fails, mark the cold sample -1 too — otherwise
      // total and total_first silently cover different query sets
      if (samples.contains(-1.0)) firsts(name) = -1.0
      mins(name) = if (samples.contains(-1.0)) -1.0 else samples.min
      // release the finished query's shuffle files NOW (see the
      // periodicGC note above) — outside the timed region, so the
      // pause never lands in a sample
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_GC", "1") != "0") System.gc()
      name -> (if (samples.contains(-1.0)) -1.0 else median(samples))
    }
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val fs = firsts.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val ms = mins.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val rs = records.map { case (k, (in, sh)) =>
      jstr(k) + s""":{"in":$in,"shuffle":$sh}""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val totalFirst = firsts.collect { case (_, v) if v >= 0 => v }.sum
    val baselineSubset = results.collect {
      case (k, v) if v >= 0 && BaselineQueries(k) => v }.sum
    // tier split: audit_total_sec isolates the quadratic truth
    // baselines so the shipping_total_sec headline tracks the
    // production posture at sf>=1 even in an "all" run
    val auditTotal = results.collect {
      case (k, v) if v >= 0 && AuditQueries(k) => v }.sum
    val shippingTotal = total - auditTotal
    // per-family median subtotals: session memos make per-query
    // medians inside a memo-sharing family "warm" numbers, so
    // comparisons between runs should read
    // these family sums — the only per-family attributable quantity
    val familyOf = SparkEntry.families
    val famTotals = results.toSeq
      .collect { case (k, v) if v >= 0 => (familyOf.getOrElse(k, "other"), v) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val fams = famTotals.map { case (f, v) => jstr(f) + ":" + v }
      .mkString("{", ",", "}")
    val ex = excluded.map(jstr).mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_first":$fs,"queries_min":$ms,"records":$rs,"errors":$es,"baseline_subset_sec":$baselineSubset,"total_first_sec":$totalFirst,"tier":${jstr(tier)},"excluded_queries":$ex,"audit_total_sec":$auditTotal,"shipping_total_sec":$shippingTotal,"families":$fams,"reps":$reps,"n_queries":${results.size},"sf":"$sfDir"}"""
    println(line)
    // a consumer that keeps only the last ~2 KB of stdout cannot parse
    // the full line (~25 KB with 196-query maps), so persist it to a
    // file and the per-query numbers survive regardless
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(out)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write $out: ${e.getMessage}") }
    // … and emit a COMPACT summary as the LAST stdout line: totals +
    // error map + the artifact path, no per-query maps, sized well
    // inside such a stdout tail so its JSON parses. The per-query
    // medians/mins/records live in the file above.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","baseline_subset_sec":$baselineSubset,"total_first_sec":$totalFirst,"audit_total_sec":$auditTotal,"shipping_total_sec":$shippingTotal,"errors":$es,"n_excluded":${excluded.size},"tier":${jstr(tier)},"reps":$reps,"n_queries":${results.size},"sf":"$sfDir","per_query_artifact":${jstr(out)}}"""
    println(compact)
    spark.stop()
  }
}
