package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.CorpusOps

class CorpusOpsSpec extends AnyFunSuite with SharedSpark {

  test("sequence_packing: spans, boundaries, and shard-local ids on a hand-built corpus") {
    import spark.implicits._
    val L = CorpusOps.SeqLen.toInt
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // shard 0, src a: 100 tokens → [0,100) → seq 0 only
      (1L, "a", words(100)),
      // next: L tokens → [100, 100+L) → crosses the seq-0/1 cut
      (2L, "a", words(L)),
      // a doc LONGER than one sequence: 2L+10 → spans ≥ 3 sequences
      (3L, "a", words(2 * L + 10)),
      // empty text is dropped, never a zero-token row
      (4L, "a", ""),
      // different source packs independently from offset 0
      (5L, "b", words(L + 1)),
      // different shard (doc_id ≥ ShardDocs) restarts offsets
      (CorpusOps.ShardDocs + 1, "a", words(7))
    ).toDF("doc_id", "source", "text")
    val got = CorpusOps.sequencePackingOf(docs)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map { case (src, sh, id, n, s0, s1, ns) => (src, sh, id) -> ((n, s0, s1, ns)) }
      .toMap
    assert(got(("a", 0L, 1L)) == ((100L, 0L, 0L, 1L)))
    // doc 2: offsets [100, 100+L): starts in seq 0, ends in seq 1
    assert(got(("a", 0L, 2L)) == ((CorpusOps.SeqLen, 0L, 1L, 2L)))
    // doc 3: offsets [100+L, 100+3L+10): seqs 1..3
    assert(got(("a", 0L, 3L)) == ((2 * CorpusOps.SeqLen + 10, 1L, 3L, 3L)))
    assert(!got.contains(("a", 0L, 4L)), "empty doc must be dropped")
    // source b restarts at offset 0 and crosses its own first cut
    assert(got(("b", 0L, 5L)) == ((CorpusOps.SeqLen + 1, 0L, 1L, 2L)))
    // the high-id doc lands in shard 1 with a fresh offset space
    assert(got(("a", 1L, CorpusOps.ShardDocs + 1)) == ((7L, 0L, 0L, 1L)))
  }

  test("source_mixing_weights: weights normalize and sqrt flattens the mix") {
    import spark.implicits._
    val rows = CorpusOps.sourceMixingWeights(spark, sfDir)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4, "prop weights must sum to 1")
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4, "sqrt weights must sum to 1")
    // temperature flattening: the biggest source's share shrinks under
    // sqrt, the smallest source's share grows
    val big = rows.maxBy(_._3)
    val small = rows.minBy(_._3)
    if (big._3 > small._3) {
      assert(big._5 <= big._4 + 1e-9, s"sqrt must not boost the biggest source: $big")
      assert(small._5 >= small._4 - 1e-9, s"sqrt must not shrink the smallest source: $small")
    }
  }

  test("temperature_sample downsamples only over-represented sources, rerun-stable") {
    import spark.implicits._
    val rows = CorpusOps.temperatureSample(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.length > 1)
    rows.foreach { case (src, nd, nt, kd, kt) =>
      assert(kd <= nd && kt <= nt, s"kept exceeds total for $src")
      assert(kd > 0, s"source $src sampled to nothing")
    }
    // the sqrt target only DOWNsamples: total kept tokens <= total
    val keptFrac = rows.map(_._5).sum.toDouble / rows.map(_._3).sum
    assert(keptFrac <= 1.0 + 1e-12)
    // at least one over-represented source actually lost tokens
    // (sf corpora have unequal sources), and small sources keep all
    assert(rows.exists { case (_, nd, _, kd, _) => kd < nd },
      "no source was downsampled — threshold logic vacuous")
    val again = CorpusOps.temperatureSample(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
  }

  test("length_bucket_padding: buckets are powers of two covering every doc, padding consistent") {
    import spark.implicits._
    val rows = CorpusOps.lengthBucketPadding(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_._2).sum == nDocs, "every doc must land in exactly one bucket")
    rows.foreach { case (bucket, nSeqs, nTok, nPad) =>
      assert(CorpusOps.PadBuckets.contains(bucket), s"non-ladder bucket $bucket")
      assert(nPad == nSeqs * bucket - nTok, s"padding identity broken for $bucket")
      assert(nPad >= 0, s"negative padding in $bucket (doc over top bucket?)")
    }
  }

  test("quality_decile_bins: bins partition the corpus without a global sort") {
    import spark.implicits._
    val df = CorpusOps.qualityDecileBins(spark, sfDir)
    val rows = df.as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val total = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_._2).sum == total, "bins must cover every doc exactly once")
    assert(rows.forall { case (b, _, lo, hi) => b >= 1 && b <= 10 && lo <= hi })
    // bins are ordered ranges: each bin's max ≤ the next bin's min
    rows.sliding(2).foreach {
      case Array((_, _, _, hi1), (_, _, lo2, _)) => assert(hi1 <= lo2)
      case _ => ()
    }
    // plan: cutoffs broadcast back over a narrow pass — no range
    // partitioning, no full-corpus sort
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange rangepartitioning"), s"global sort leaked in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"decile cutoffs must broadcast:\n$p")
  }

  test("bpe_pair_counts: vocab-sized top-k, pairs well-formed, counts consistent") {
    import spark.implicits._
    val df = CorpusOps.bpePairCounts(spark, sfDir)
    val rows = df.as[(String, Long)].collect()
    assert(rows.length == 50)
    // every pair is two single symbols joined by one space
    assert(rows.forall { case (p, _) => p.split(" ", -1).length == 2 })
    // descending counts with the declared tie order
    rows.sliding(2).foreach {
      case Array((p1, n1), (p2, n2)) =>
        assert(n1 > n2 || (n1 == n2 && p1 < p2), s"order broken at $p1/$p2")
      case _ => ()
    }
    // the top pair must be at least as frequent as any single word
    // containing it (sanity: weights came from word counts)
    assert(rows.head._2 > 0)
    // plan: bounded top-k, never a global sort
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-50 must be bounded:\n$p")
  }

  test("bpeApplyMerge: left-to-right non-overlapping greedy application") {
    import spark.implicits._
    val S = CorpusOps.BpeSep
    def w(syms: String*): String = syms.map(s => S + s + S).mkString
    val vocab = Seq((w("a", "a", "a"), 1L), (w("a", "b", "a", "b"), 1L))
      .toDF("wstr", "wc")
    val out = CorpusOps.bpeApplyMerge(vocab, "a", "a")
      .as[(String, Long)].collect().map(_._1).toSet
    // 'a a a' -> [aa, a], NOT [a, aa] and NOT [aa, aa]
    assert(out.contains(w("aa", "a")))
    assert(out.contains(w("a", "b", "a", "b")), "non-matching word unchanged")
    val out2 = CorpusOps.bpeApplyMerge(vocab, "a", "b")
      .as[(String, Long)].collect().map(_._1).toSet
    assert(out2.contains(w("ab", "ab")))
  }

  test("bpe_merge_rounds: merged symbols re-pair in later rounds on a hand corpus") {
    import spark.implicits._
    val S = CorpusOps.BpeSep
    // 'abab' x3: round 1 elects (a,b) n=8 incl 'ab' x2; round 2 must
    // pair the MERGED symbol: (ab, ab) from 'abab' — proving rounds
    // feed forward rather than re-counting the initial chars
    val vocab0 = CorpusOps.bpeInitVocab(
      Seq((1L, "abab abab abab ab ab x")).toDF("doc_id", "text"))
    val c1 = CorpusOps.bpePairsOf(vocab0).as[(String, Long)].collect().toMap
    assert(c1("a b") == 8, s"round-1 counts: $c1") // 2 per 'abab' x3 + 1 per 'ab' x2
    val vocab1 = CorpusOps.bpeApplyMerge(vocab0, "a", "b")
    val c2 = CorpusOps.bpePairsOf(vocab1).as[(String, Long)].collect().toMap
    assert(c2 == Map("ab ab" -> 3L), s"round-2 counts: $c2")
    // single-symbol words ('x', and 'ab' after the merge) yield no pairs
    assert(!c2.contains("x x"))
  }

  test("bpe_merge_rounds query: 6 rounds, elected pairs strictly follow the tie order") {
    import spark.implicits._
    val rows = CorpusOps.bpeMergeRounds(spark, sfDir)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to CorpusOps.BpeRounds))
    // counts never increase round-over-round by more than merging can
    // explain; each elected pair has positive weight
    assert(rows.forall(_._3 > 0))
    // no pair is elected twice: once merged, the pair string is gone
    assert(rows.map(_._2).distinct.length == rows.length)
  }

  test("bpe_encode_stats: counts bracket correctly and match an independent recount") {
    import org.apache.spark.sql.functions._
    val rows = CorpusOps.bpeEncodeStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (words, chars, bpe) =
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_char_syms"), r.getAs[Long]("n_bpe_tokens"))
      // every word is at least one token; merging only shrinks
      assert(words <= bpe && bpe <= chars, s"bracket violated: $r")
    }
    // n_words / n_char_syms recomputed independently of the BPE path
    val truth = graft.Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        explode(graft.operators.WordCount.tokens(col("text"))).as("word"))
      .groupBy("source")
      .agg(count(lit(1)).as("w"), sum(length(col("word"))).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (r <- rows)
      assert(truth(r.getAs[String]("source")) ==
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_char_syms")),
        s"recount mismatch for $r")
  }

  test("bpeLearnMerges memoizes per (session, corpus)") {
    val a = CorpusOps.bpeLearnMerges(spark, sfDir)
    val b = CorpusOps.bpeLearnMerges(spark, sfDir)
    assert(a eq b, "second call must hit the memo")
    SessionCaches.release(spark)
    val c = CorpusOps.bpeLearnMerges(spark, sfDir)
    assert(!(a eq c) && a == c, "post-clear retrain must rebuild equal merges")
  }

  test("sequence_packing plan: window partitioned by (source, shard), never global") {
    val p = CorpusOps.sequencePacking(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("Window"), s"expected a window:\n$p")
    // the partition spec must carry both keys — a source-only (or
    // empty) partition spec would serialize packing through one task
    assert(p.contains("source") && p.contains("shard"),
      s"window must partition by (source, shard):\n$p")
  }

  test("domain_cap_topk: per-source cap holds, equals the window form, runs on the heap operator") {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val got = CorpusOps.domainCapTopk(spark, sfDir)
    // never more than DomainCap docs per source
    val worst = got.groupBy("source").agg(count(lit(1)).as("n"))
      .agg(max("n")).head().getLong(0)
    assert(worst <= CorpusOps.DomainCap)
    // result-parity with the declarative window spelling
    Tables.load(spark, sfDir, "documents").createOrReplaceTempView("documents")
    val window = spark.sql(
      s"""SELECT source, doc_id, n_chars FROM (
         |  SELECT source, doc_id, n_chars,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= ${CorpusOps.DomainCap}""".stripMargin)
    assert(got.exceptAll(window).isEmpty && window.exceptAll(got).isEmpty)
    // and the physical plan is the custom heap operator, not a sort+window
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"expected TopKPerKeyExec in:\n$p")
  }

  test("quality_drift_psi: full bin grid, counts tie out, PSI >= 0 and equals its terms") {
    val rows = CorpusOps.qualityDriftPsi(spark, sfDir).collect()
    assert(rows.length == 20, s"expected 2 features x 10 bins, got ${rows.length}")
    val docs = Tables.load(spark, sfDir, "documents")
    val nRef = docs.filter(col("doc_id") % 2 === 0).count()
    val nBatch = docs.filter(col("doc_id") % 2 === 1).count()
    rows.groupBy(_.getString(0)).foreach { case (feature, rs) =>
      assert(rs.length == 10, s"$feature: missing bins")
      assert(rs.map(_.getLong(2)).sum == nRef, s"$feature: n_ref total")
      assert(rs.map(_.getLong(3)).sum == nBatch, s"$feature: n_batch total")
      // every term (p_b - p_r)·ln(p_b/p_r) is >= 0 (same-sign product),
      // so PSI >= 0; and the reported PSI is the sum of its own terms
      // (up to the output rounding)
      val psi = rs.head.getDouble(7)
      assert(rs.forall(r => r.getDouble(7) == psi), s"$feature: PSI differs across rows")
      assert(psi >= 0.0)
      assert(rs.forall(_.getDouble(6) >= 0.0))
      assert(math.abs(rs.map(_.getDouble(6)).sum - psi) < 1e-4,
        s"$feature: terms ${rs.map(_.getDouble(6)).sum} vs psi $psi")
      // even/odd halves of the same synthetic corpus: no actionable
      // drift — but at sf0.001's 25-doc halves the 0.5-smoothing
      // dominates and PSI sits near the 0.1 watch threshold, so the
      // pin is the 0.25 "act" line (the sf0.01 oracle hashes the
      // exact values; this spec guards the semantics)
      assert(psi < 0.25, s"$feature: unexpected drift, PSI=$psi")
    }
  }
}
