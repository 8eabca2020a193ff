package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{BandIndex, Dedup}

class DedupSpec extends AnyFunSuite with SharedSpark {

  test("shingles: distinct word 3-grams, empties dropped, short docs empty") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),       // a|b|c, b|c|d
      (2L, "a  b c"),        // double space -> a|b|c
      (3L, "x y"),           // too short -> []
      (4L, "a b a b a b")    // repeats collapse to 2 distinct
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("a|b|c", "b|c|d"))
    assert(got(2L) == Seq("a|b|c"))
    assert(got(3L) == Seq.empty)
    assert(got(4L).sorted == Seq("a|b|a", "b|a|b"))
  }

  test("shingleSet (Scala) == shingles (Column) on the real corpus") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    val viaColumn = docs
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val viaScala = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> Dedup.shingleSet(t).toSeq }.toMap
    assert(viaScala == viaColumn)

    // and on the token-rule edge cases the corpus never holds
    for (text <- WordCountSpec.edgeCases.map(_._1)) {
      val col1 = Seq(text).toDF("text").select(Dedup.shingles(col("text")))
        .as[Seq[String]].head()
      assert(Dedup.shingleSet(text).toSeq == col1, s"shingles(${text.map(_.toInt)})")
    }
  }

  test("minhash LSH finds exactly the exact-jaccard pairs on the fixture") {
    import spark.implicits._
    // sf0.001 documents include injected near-dups; LSH recall at
    // j≈0.98 with 8 bands of 4 is 1 - (1-j^4)^8 ≈ 1 - 1e-9
    val exact = Dedup.ngramJaccard(spark, sfDir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNeardup(spark, sfDir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
    assert(exact.nonEmpty, "fixture should contain injected near-dups")
  }

  test("ngram_jaccard audit cap: corpora beyond AuditMaxDocs are refused " +
    "with the declared-baseline error, never run (r15 verdict #4)") {
    // the sf0.001 fixture is far under the default cap: runs normally
    assert(Dedup.ngramJaccard(spark, sfDir).columns.sameElements(
      Array("d1", "d2", "jaccard")))
    // over-cap corpus: the guard fires BEFORE any shingle/join work,
    // with the message Bench records as the query's error row
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardCapped(spark, sfDir, maxDocs = 1)
    }
    assert(e.getMessage.contains("audit-tier baseline")
      && e.getMessage.contains("SPARK_GRAFT_AUDIT_MAX_DOCS"))
    // the certified audit rungs stay admitted: sf3 is 150k docs
    assert(Dedup.AuditMaxDocs >= 150000L)
  }

  test("minhash_recall: probe census consistent with the exact/banded pair sets") {
    import spark.implicits._
    val every = Dedup.recallEvery(
      Tables.load(spark, sfDir, "documents").count())
    val rows = Dedup.minhashRecall(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty, "fixture should yield probes with true partners")
    // structural invariants: found never exceeds truth; recall is the
    // quotient; every probe rides the declared stride
    for ((p, nt, nf, r) <- rows) {
      assert(p % every == 0)
      assert(nf <= nt && nt >= 1)
      assert(math.abs(r - (nf.toDouble / nt)) < 1e-6)
    }
    // cross-check against the independently-certified frames: truth
    // per probe == ngram_jaccard pairs touching the probe; at this
    // fixture's j≈0.98 dups the banding misses nothing (the r1 floor),
    // so found == true and recall == 1.0
    val exact = Dedup.ngramJaccard(spark, sfDir)
      .select("d1", "d2").as[(Long, Long)].collect()
    val truthByProbe = (exact.map(p => (p._1, p._2)) ++ exact.map(p => (p._2, p._1)))
      .filter(_._1 % every == 0).groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    assert(rows.map(r => r._1 -> r._2).toMap == truthByProbe)
    assert(rows.forall(_._4 == 1.0),
      s"banding missed true pairs on the high-jaccard fixture: ${rows.toSeq}")
  }

  test("slice twins equal their full queries restricted to probe-touching rows") {
    import spark.implicits._
    val every = Dedup.recallEvery(
      Tables.load(spark, sfDir, "documents").count())
    def isP(id: Long) = id % every <= 1
    // pair slices: exactly the full pair set's probe-touching rows
    val fullPairs = Dedup.minhashNeardup(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    val slicePairs = Dedup.minhashNeardupSlice(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(slicePairs == fullPairs.filter(p => isP(p._1) || isP(p._2)),
      s"minhash_neardup_slice diverged (every=$every)")
    assert(slicePairs.nonEmpty, "slice should catch injected near-dups")
    val fullCont = Dedup.shingleContainment(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    val sliceCont = Dedup.shingleContainmentSlice(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(sliceCont == fullCont.filter(p => isP(p._1) || isP(p._2)))
    // cluster slices: the full resolution's probe rows, all three modes
    val fullClusters = Dedup.neardupClusters(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    val expected = fullClusters.filter(r => isP(r._1))
    for ((name, df) <- Seq(
        "prop" -> Dedup.neardupClustersSlice(spark, sfDir),
        "bigstar" -> Dedup.neardupClustersBigstarSlice(spark, sfDir),
        "indexed" -> BandIndex.neardupClustersIndexedSlice(spark, sfDir))) {
      assert(df.as[(Long, Long, Long)].collect().toSet == expected,
        s"cluster slice mode $name diverged")
    }
  }

  test("minhash_recall floor holds at sf1 — banding/cap changes that drop " +
    "text near-dup recall fail the suite, not just shift a census") {
    // round-12 verdict #2: 0.995 measured at sf1 AND sf10; pin 0.99
    assume(sf1Dir.isDefined, "sf1 testdata not generated on this machine")
    import spark.implicits._
    val rows = Dedup.minhashRecall(spark, sf1Dir.get)
      .select("n_true", "n_found").as[(Long, Long)].collect()
    assert(rows.nonEmpty, "sf1 probes should have true partners")
    val micro = rows.map(_._2).sum.toDouble / rows.map(_._1).sum
    info(f"sf1 minhash_recall (micro): $micro%.4f over ${rows.length} probes")
    assert(micro >= 0.99, s"minhash_recall floor broken at sf1: $micro")
  }

  test("simhash: near-dup docs have small hamming distance, others large") {
    import spark.implicits._
    val sh = Dedup.simhash(spark, sfDir).as[(Long, Long)].collect().toMap
    val pairs = Dedup.ngramJaccard(spark, sfDir)
      .select("d1", "d2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dupDists = pairs.map { case (a, b) => hamming(sh(a), sh(b)) }
    // near-dups (j >= 0.98) should be within a few bits of each other
    assert(dupDists.max <= 15, s"dup hamming distances: ${dupDists.toSeq}")
    // random doc pairs should be far apart on average
    val ids = sh.keys.toSeq.sorted.take(40)
    val rand = for (a <- ids; b <- ids if a < b && !pairs.contains((a, b)))
      yield hamming(sh(a), sh(b))
    assert(rand.sum.toDouble / rand.size > 15.0)
  }

  test("fuzzy_match_prefix drops a synthetic hot block but keeps honest blocks") {
    import spark.implicits._
    // hot block: MaxBlock+5 docs behind one boilerplate 8-char opening
    // (the "<!DOCTYPE ht..." crawl hazard) — must produce ZERO pairs;
    // honest block: 3 near-identical prefixes — all 3 pairs survive
    val hot = (0L until (Dedup.MaxBlock + 5).toLong).map { i =>
      (i, s"BOILERPL common prefix with tail $i")
    }
    val honest = Seq(
      (10001L, "HONESTBK the quick brown fox"),
      (10002L, "HONESTBK the quick brown fax"),
      (10003L, "HONESTBK the quick brown fix"))
    val docs = (hot ++ honest).toDF("doc_id", "text")
    val got = Dedup.fuzzyMatchPrefixOf(docs).as[(Long, Long, Long)].collect()
    assert(got.forall { case (d1, d2, _) => d1 >= 10001L && d1 < d2 },
      s"hot-block pairs leaked through the cap: ${got.take(5).toSeq}")
    assert(got.length == 3, s"expected the 3 honest pairs, got ${got.toSeq}")
    // and with the cap lifted past the block size, the same hot block
    // would have produced its quadratic pair count — the cap is load-bearing
    val hotPairs = (Dedup.MaxBlock + 5).toLong * (Dedup.MaxBlock + 4).toLong / 2
    assert(hotPairs > 500000L)
  }

  test("substring_dup_stats finds the copied paragraph, not the unique text") {
    import spark.implicits._
    // 12 distinct tokens -> 5 windows of 8; doc 2 copies doc 1's
    // paragraph verbatim inside otherwise-unique text; doc 3 is all
    // unique; doc 4 is an exact duplicate of doc 3 plus nothing else
    val para = (1 to 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, para),
      (2L, s"u1 u2 u3 $para v1 v2 v3"),
      (3L, (1 to 20).map(i => s"q$i").mkString(" ")),
      (5L, (1 to 20).map(i => s"q$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.substringDupStatsOf(spark, docs)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, d, f) => id -> ((n, d, f)) }.toMap
    // doc 1: every one of its 5 windows occurs inside doc 2
    assert(got(1L) == ((5L, 5L, 1.0)))
    // doc 2: 18 tokens -> 11 windows; the 5 pure-paragraph ones dup
    assert(got(2L) == ((11L, 5L, round6(5.0 / 11))))
    // docs 3/5: exact duplicates of each other -> fully duplicated
    assert(got(3L) == ((13L, 13L, 1.0)))
    assert(got(5L) == ((13L, 13L, 1.0)))
    // and on the real corpus the output is total and bounded
    val real = Dedup.substringDupStats(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    assert(real.nonEmpty)
    real.foreach { case (_, n, d, f) =>
      assert(n > 0 && d >= 0 && d <= n && f >= 0.0 && f <= 1.0)
    }
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("substring_dup_stats_hashed equals the string form exactly") {
    import spark.implicits._
    // the production (60-bit rolling-hash key) twin must reproduce the
    // string-keyed audit row-for-row — any window-hash collision or
    // roll-arithmetic bug shows up as a frame diff here (and as an
    // oracle mismatch in CORRECTNESS, since both declare the same SQL)
    val str = Dedup.substringDupStats(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val hashed = Dedup.substringDupStatsHashed(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(str.nonEmpty)
    assert(hashed.toSeq == str.toSeq)
  }

  test("dedup_exact survivor count never exceeds doc count and is stable") {
    import spark.implicits._
    val survivors = Dedup.dedupExact(spark, sfDir)
      .agg(sum("n_survivors")).as[Long].head()
    val docs = Tables.load(spark, sfDir, "documents")
    assert(survivors == docs.select("text").distinct().count())
  }

  test("embedding_neardup is symmetric-free (d1 < d2) and thresholded") {
    import spark.implicits._
    val rows = Dedup.embeddingNeardup(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(rows.forall { case (a, b, s) => a < b && s >= 0.35 - 1e-9 })
  }

  test("embedding_neardup grid join covers every qualifying pair exactly once") {
    import spark.implicits._
    val got = Dedup.embeddingNeardup(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    // brute-force truth computed in the test (sf0.001: 500 vectors)
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) v")
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val norms = vecs.map { case (_, v) => math.sqrt(dot(v, v)) }
    val want = (for {
      x <- vecs.indices.iterator
      y <- x + 1 until vecs.length
      s = dot(vecs(x)._2, vecs(y)._2) / (norms(x) * norms(y))
      if s >= 0.35
    } yield (vecs(x)._1, vecs(y)._1,
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got.toSet == want)
    assert(got.length == got.toSet.size, "grid cells must not duplicate pairs")
  }

  test("baseHashJvm == SQL conv(substring(md5)) base hash on real shingles") {
    import spark.implicits._
    val sh = Dedup.docShingles(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(col("sh")).as("s"))
      .limit(2000)
    val viaSql = sh.select(col("s"),
      (org.apache.spark.sql.functions.conv(
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(col("s")), 1, 15), 16, 10)
        .cast("long") % Dedup.P).as("h"))
      .as[(String, Long)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    viaSql.foreach { case (s, h) =>
      assert(Dedup.baseHashJvm(md, s) == h, s"mismatch for shingle '$s'")
    }
  }

  test("MinSig aggregator (ungrouped-stream form) == zero-shuffle signatures") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{conv, explode, lit, md5, substring}
    val docs = Dedup.docShingles(spark, sfDir)
    val viaMap = Dedup.minhashSignaturesOf(spark, docs)
      .as[(Long, Seq[Long])].collect().toMap
    val minsig = new graft.dedup.MinSig(Dedup.NumHashes).toColumn
    val viaAgg = docs
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        (conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long") % lit(Dedup.P)).as("h"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(minsig.name("sig"))
      .collect().toMap
    assert(viaMap == viaAgg)
    assert(viaMap.nonEmpty)
  }

  test("minhash hot-bucket cap drops degenerate clusters, keeps honest pairs") {
    import spark.implicits._
    // synthetic corpus: one degenerate cluster of MaxBucket+1 identical
    // docs (every LSH bucket explodes quadratically without the cap)
    // plus one honest near-dup pair
    val cluster = (0L until (Dedup.MaxBucket + 1).toLong)
      .map(i => (i, "the quick brown fox jumps over the lazy dog again and again"))
    val pairA = (9000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val pairB = (9001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa x")
    val dir = java.nio.file.Files.createTempDirectory("graft_hotbucket").toString
    (cluster :+ pairA :+ pairB).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.minhashNeardup(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    // the 1001-doc cluster would contribute 500500 pairs; the cap drops
    // its buckets entirely, leaving only the honest pair
    assert(pairs == Set((9000L, 9001L)))
  }

  test("release drops session memos; queries rebuild cleanly after") {
    Dedup.cachedDocShingles(spark, sfDir).count()
    Dedup.cachedMinhashPairs(spark, sfDir).count()
    graft.operators.SqlSurface.minCostSupplier(spark, sfDir).count()
    graft.streaming.IngestDedup.ingestDedupFold(spark, sfDir).count()
    SessionCaches.release(spark)
    assert(graft.streaming.IngestDedup.ingestDedupFold(spark, sfDir).count() > 0)
    assert(Dedup.neardupClusters(spark, sfDir).count() > 0)
    assert(graft.similarity.Similarity.similarAnnIvf(spark, sfDir).count() > 0)
    assert(graft.operators.PageRank.pagerankTradeGraph(spark, sfDir).count() > 0)
    assert(graft.text.CorpusOps.bpeEncodeStats(spark, sfDir).count() > 0)
    assert(graft.operators.SqlSurface.partsSupplierCount(spark, sfDir).count() > 0)
  }

  test("minhash_incremental: near-dup batch docs drop; unique and short docs survive") {
    import spark.implicits._
    // even ids = standing corpus, odd ids = incoming batch
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa x"), // near-dup of 0
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "completely different words nothing shared here at all today friends"), // unique
      (5L, "so short"), // no shingles -> no bands -> accepted
      (7L, "one two three four five six seven eight nine ten")) // exact dup of 2
    val dir = java.nio.file.Files.createTempDirectory("graft_minc").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val surv = Dedup.minhashIncremental(spark, dir)
      .as[Long].collect().toSet
    assert(surv == Set(3L, 5L))
  }

  test("shingle_containment: wholly-quoted doc scores 1.0; containment >= jaccard") {
    import spark.implicits._
    val quoted = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, quoted),
      (2L, quoted + " phi chi")) // contains doc 1 wholly
    val dir = java.nio.file.Files.createTempDirectory("graft_cont").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.shingleContainment(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))

    // real corpus: for every pair both queries emit, containment >= jaccard
    // (identical candidates and intersections; ÷min vs ÷union)
    val jac = Dedup.minhashNeardup(spark, sfDir)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val cont = Dedup.shingleContainment(spark, sfDir)
      .as[(Long, Long, Double)].collect().map { case (a, b, c) => (a, b) -> c }.toMap
    assert(cont.nonEmpty)
    for ((p, c) <- cont; j <- jac.get(p)) assert(c >= j, s"pair $p: cont $c < jac $j")
  }

  test("dedup_incremental: survivors are odd-id, batch-unique, absent from corpus") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.load(spark, sfDir, "documents")
    val surv = graft.dedup.Dedup.dedupIncremental(spark, sfDir)
    assert(surv.count() > 0)
    assert(surv.filter(col("doc_id") % 2 === 0).count() == 0)
    val sTexts = surv.join(docs, "doc_id").select("text")
    // no survivor text already exists in the even-id corpus
    val corpus = docs.filter(col("doc_id") % 2 === 0).select("text")
    assert(sTexts.intersect(corpus).count() == 0)
    // one survivor per distinct batch text
    assert(sTexts.count() == sTexts.distinct().count())
  }

  test("connected components: min-label propagation on a hand-built graph") {
    import spark.implicits._
    // chain 1-2-3 (diameter 2), isolated pair 10-11, triangle 20-21-22,
    // chain 30..34 (diameter 4), and a LONG path 100..115 (diameter 15:
    // one propagation round per hop — exercises the per-round lineage
    // truncation that keeps deep loops from exponential plan growth)
    val path = (100L until 115L).map(i => (i, i + 1))
    val edges = (Seq(
      (2L, 1L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L)
    ) ++ path).toDF("a", "b")
    val got = graft.operators.ConnectedComponents.resolve(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L) ++
      (100L to 115L).map(_ -> 100L).toMap
    assert(got == want)
  }

  test("connected components match a union-find oracle on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42) // fixed seed: deterministic test
    for (_ <- 1 to 3) {
      val edges = Seq.fill(25)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val got = graft.operators.ConnectedComponents
        .resolve(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      // driver-side union-find truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val roots = nodes.map(n => n -> find(n)).toMap
      // min id per union-find component
      val minOf = nodes.groupBy(roots).map { case (r, ns) => r -> ns.min }
      val want = nodes.map(n => n -> minOf(roots(n))).toMap
      assert(got == want)
    }
  }

  test("alternating (large-star/small-star) components == label propagation") {
    import spark.implicits._
    // the hand-built graph plus random graphs: both modes must agree
    // exactly (same (id, label=component-min) contract)
    val path = (100L until 115L).map(i => (i, i + 1))
    val handBuilt = (Seq(
      (2L, 1L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L)
    ) ++ path).toDF("a", "b")
    val lp = graft.operators.ConnectedComponents.resolve(handBuilt, "a", "b")
      .as[(Long, Long)].collect().toMap
    val alt = graft.operators.ConnectedComponents
      .resolveAlternating(handBuilt, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(alt == lp)
    val rnd = new scala.util.Random(99) // fixed seed: deterministic test
    for (_ <- 1 to 3) {
      val edges = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .toDF("a", "b") // self-loops allowed: both modes must keep the node
      val a = graft.operators.ConnectedComponents.resolve(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
      val b = graft.operators.ConnectedComponents
        .resolveAlternating(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(b == a)
    }
  }

  test("alternating components contract a long chain in logarithmic rounds") {
    import spark.implicits._
    // a 256-node path has diameter 255: label propagation needs 255
    // rounds (far past its loud-failure bound), the alternating star
    // algorithm contracts it in O(log n). The bound here is generous
    // (2·log2 n + 4 = 20) — regression room without hiding a linear
    // slip; the observed count is ~log2 n.
    val n = 256
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = graft.operators.ConnectedComponents
      .resolveAlternatingWithRounds(chain, "a", "b")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 0L), "every chain node joins component 0")
    val bound = 2 * (math.log(n) / math.log(2)).ceil.toInt + 4
    assert(rounds <= bound,
      s"chain of $n should contract in <= $bound alternating rounds, took $rounds")
  }

  test("connected components: reliable-checkpoint mode labels == localCheckpoint labels") {
    import spark.implicits._
    val rnd = new scala.util.Random(7) // fixed seed: deterministic test
    val edges = (Seq.fill(25)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2) ++
      // a diameter-15 path so both modes truncate across many rounds
      (200L until 215L).map(i => (i, i + 1))).toDF("a", "b")
    val local = graft.operators.ConnectedComponents
      .resolve(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_cc_ckpt").toString
    try {
      val dirBefore = org.apache.spark.graft.CheckpointDirAccessor
        .get(spark.sparkContext)
      val reliableDf = graft.operators.ConnectedComponents
        .resolve(edges, "a", "b", checkpointDir = Some(ckptDir))
      // hygiene: the global checkpoint dir is restored verbatim (here:
      // back to unset) — the override never leaks to the shared session
      assert(org.apache.spark.graft.CheckpointDirAccessor
        .get(spark.sparkContext) == dirBefore,
        "resolve leaked its checkpoint dir into the shared session")
      val reliable = reliableDf.as[(Long, Long)].collect().toMap
      assert(reliable == local)
      // reliable mode actually wrote round snapshots to the shared dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint wrote nothing")
      // and superseded rounds were reaped as the run went: the
      // diameter-15 path forces ~15 rounds, but only the RETURNED
      // frame's snapshot may remain on disk
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(rddDirs == 1,
        s"expected exactly the returned frame's snapshot, found $rddDirs rdd-* dirs")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(ckptDir))
    }
  }

  test("neardup_clusters: cluster_id is the min member, sizes agree, survivors filter") {
    import spark.implicits._
    val clusters = Dedup.neardupClusters(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(clusters.nonEmpty) // fixture injects near-dups
    val byCluster = clusters.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid min != id")
      assert(members.forall(_._3 == members.length), s"cluster $cid size")
    }
    // every clustered doc appears in some minhash pair and vice versa
    val pairIds = Dedup.minhashNeardup(spark, sfDir)
      .select("d1", "d2").as[(Long, Long)].collect()
      .flatMap(p => Seq(p._1, p._2)).toSet
    assert(clusters.map(_._1).toSet == pairIds)
    // training_set_select_neardup ⊆ training_set_select, and drops
    // every non-min cluster member
    val losers = clusters.filter(c => c._1 != c._2).map(_._1).toSet
    val base = graft.text.TextAnalysis.trainingSetSelect(spark, sfDir)
      .select("doc_id").as[Long].collect().toSet
    val nd = graft.text.TextAnalysis.trainingSetSelectNeardup(spark, sfDir)
      .select("doc_id").as[Long].collect().toSet
    assert(nd.subsetOf(base))
    assert(nd.intersect(losers).isEmpty)
    assert((base -- nd).subsetOf(losers))
  }

  test("substring_dup_scrub: exact coverage on a hand corpus; short and clean docs keep everything") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),           // shares window [a..h] with doc 2
      (2L, "x a b c d e f g h y z"),         // ...at position 2
      (3L, "p q"),                           // too short for any window
      (4L, "entirely unique words one two three four five six seven")
    ).toDF("doc_id", "text")
    val got = Dedup.substringDupScrubOf(spark, docs)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 10L, 8L, 2L, 0.2),     // tokens 1-8 covered by the shared window
      (2L, 11L, 8L, 3L, 0.272727),// tokens 2-9 covered; x, y, z survive
      (3L, 2L, 0L, 2L, 1.0),
      (4L, 10L, 0L, 10L, 1.0)), s"got $got")
  }

  test("lsh_bucket_audit: census ties out to the band table; pair formula exact; cap dormant at test SF") {
    val audit = Dedup.lshBucketAudit(spark, sfDir).collect()
    assert(audit.nonEmpty)
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    // each doc contributes exactly one row per band, so per band:
    // Σ occupancy · n_buckets == corpus size
    val perBand = audit.groupBy(_.getInt(0)).view
      .mapValues(_.map(r => r.getLong(1) * r.getLong(2)).sum).toMap
    assert(perBand.size == Dedup.NumHashes / Dedup.BandRows)
    assert(perBand.values.forall(_ == nDocs), s"per-band census $perBand != $nDocs")
    audit.foreach { r =>
      val (occ, nb, pairs) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(pairs == occ * (occ - 1) / 2 * nb)
      assert(!r.getBoolean(4), s"over-cap bucket at test SF: occupancy $occ")
    }
  }

  test("neardup_clusters_bigstar: alternating-star resolution lands on the identical clustering") {
    import spark.implicits._
    val prop = Dedup.neardupClusters(spark, sfDir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val star = Dedup.neardupClustersBigstar(spark, sfDir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(prop.nonEmpty && prop.sameElements(star))
  }

  /** Sliding-window near-dup CHAIN: doc i = 52 consecutive words from a
    * shared vocabulary at stride 1, so doc i and doc i+d share 50−d of
    * their 50 word-3gram shingles — Jaccard (50−d)/(50+d), which is
    * ≥ 0.5 exactly for d ≤ 16 and < 0.5 from d = 17. The verify stage
    * therefore caps edge SPAN at 16 positions structurally, independent
    * of what the banding surfaces. */
  private def writeChainCorpus(n: Int, tag: String): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_chain_$tag").toString
    val words = (0 until n + 51).map(i => s"cw$i")
    (0 until n).map(i => (i.toLong, words.slice(i, i + 52).mkString(" ")))
      .toDF("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("probe closure: a chain whose diameter exceeds ComponentOracleRounds " +
    "VISIBLY diverges from the full resolution — the rounds cap cannot " +
    "silently truncate (r14 verdict What's-wrong #2)") {
    import spark.implicits._
    // 600 docs. The banded graph may drop individual chain links (the
    // affine minhash rows share one base hash per shingle, so a
    // one-position slide occasionally changes all 8 bands — measured
    // ~0.4% of links), splitting the chain into a few long interval
    // components. So the premise is data-driven: take the cap-free
    // full resolution's components, and find probes whose POSITIONAL
    // extent inside their component exceeds what the rounds budget
    // can reach. Max verified edge span is 16 (see writeChainCorpus),
    // so 16 BFS rounds reach at most 16·16 = 256 positions either way
    // from a probe — structurally, independent of banding.
    val n = 600
    val dir = writeChainCorpus(n, "long")
    val reach = 16L * Dedup.ComponentOracleRounds // 256 positions
    val full = Dedup.neardupClusters(spark, dir)
      .as[(Long, Long, Long)].collect()
    val every = Dedup.recallEvery(n.toLong)
    // component extents: docs are chain positions, components are
    // position intervals, so per cluster_id take (lo, hi, size)
    val comps = full.groupBy(_._2).map { case (cid, rows) =>
      cid -> ((rows.map(_._1).min, rows.map(_._1).max, rows.head._3))
    }
    val expected = full.filter(r => r._1 % every <= 1)
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // probes the budget provably cannot close: distance from probe to
    // the far end of its interval exceeds the total reachable span
    val overCap = expected.keys.filter { p =>
      val cid = expected(p)._1
      val (lo, hi, _) = comps(cid)
      math.max(p - lo, hi - p) > reach
    }.toSeq.sorted
    assert(overCap.nonEmpty,
      s"fixture premise broke: no probe is over the rounds budget — " +
        s"components ${comps.values.toSeq.sortBy(_._1)}; regenerate the " +
        "chain longer if banding constants changed")
    val slice = Dedup.neardupClustersSlice(spark, dir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // every over-budget probe lands as a VISIBLE divergence from the
    // cap-free full resolution — a strictly smaller component, never a
    // silent agreement with a truncated answer
    for (p <- overCap) {
      assert(slice(p)._2 < expected(p)._2,
        s"probe $p should hit the rounds cap: slice=${slice(p)} " +
          s"full=${expected(p)} — if equal, the cap became a silent truncation")
    }
    assert(slice != expected, "over-cap chain must not reproduce the full resolution")
  }

  test("probe closure: fixpoint (empty frontier) lands before the rounds cap " +
    "on a cap-safe chain, and equals the full resolution exactly") {
    import spark.implicits._
    // 40 docs: every = 1, ALL docs are probes; worst eccentricity is
    // 39 positions / spans up to 16 ≈ 3–13 rounds < ComponentOracleRounds,
    // so the closure reaches fixpoint early and must equal the global
    // resolution row-for-row (the equality contract on a REAL shape)
    val dir = writeChainCorpus(40, "short")
    val full = Dedup.neardupClusters(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(full.size == 40 && full.forall(r => r._2 == 0L && r._3 == 40L),
      s"short-chain premise broke: ${full.take(3)}")
    val slice = Dedup.neardupClustersSlice(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(slice == full, "closure at fixpoint must equal the full resolution")
  }
}
