package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{BandIndex, Dedup}
import graft.operators.ConnectedComponents

/** The persisted-index layer (round-9 verdict #1): IndexStore artifact
  * lifecycle, the indexed minhash queries' equivalence to their
  * recomputing twins, the plan-shape guarantee (no corpus-side
  * signature kernel), and the refresh upsert rule. */
class BandIndexSpec extends AnyFunSuite with SharedSpark {

  /** A private corpus dir so lifecycle tests control their own
    * artifacts (the shared sfDir's artifacts persist across suites by
    * design). */
  private def tempCorpus(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bandidx").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("IndexStore: builds once; later calls and a second session read the artifact") {
    import spark.implicits._
    val dir = tempCorpus(Seq((1L, "a b c"), (2L, "d e f")))
    val before = IndexStore.builds.get()
    val a = IndexStore.getOrBuild(spark, dir, "documents", "spec_probe") {
      spark.range(5).select(col("id"), (col("id") * 2).as("v"))
    }.as[(Long, Long)].collect().sortBy(_._1)
    assert(IndexStore.builds.get() == before + 1, "first call must build")
    assert(a.toSeq == (0L until 5L).map(i => (i, i * 2)))
    // same session: the by-name builder must NOT be evaluated again
    val b = IndexStore.getOrBuild(spark, dir, "documents", "spec_probe") {
      sys.error("rebuilt an existing artifact (same session)")
    }.count()
    assert(b == 5)
    // a different session (fresh memos — the cold-session stand-in
    // inside one JVM) must also read, not rebuild
    val s2 = spark.newSession()
    val c = IndexStore.getOrBuild(s2, dir, "documents", "spec_probe") {
      sys.error("rebuilt an existing artifact (new session)")
    }.count()
    assert(c == 5)
    assert(IndexStore.builds.get() == before + 1)
  }

  test("storedComponents: a cold build leaves no persistent RDD once the artifact is published") {
    val text = (0 until 30).map(i => s"w$i").mkString(" ")
    val dir = tempCorpus(Seq((1L, text), (2L, text + " dup"), (3L, "some other words entirely")))
    // the registry's memos, built first: the build publishes the second
    Dedup.cachedMinhashPairs(spark, dir).count()
    Dedup.neardupComponents(spark, dir).count()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val builds = IndexStore.builds.get()
    val labels = BandIndex.storedComponents(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(IndexStore.builds.get() == builds + 1, "the call did not build")
    assert(labels == Map(1L -> 1L, 2L -> 1L))
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"the build left persistent RDDs $left")
  }

  /** `body`'s value and the stages of every job it started, once the
    * listener bus has delivered them. */
  private def withJobs[A](body: => A): (A, Seq[Seq[StageInfo]]) = {
    val jobs = new ConcurrentLinkedQueue[Seq[StageInfo]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e.stageInfos); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      (out, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Jobs of a [[Fixpoint]] loop: their stages are called from it. */
  private def fixpointJobs(jobs: Seq[Seq[StageInfo]]): Int =
    jobs.count(_.exists(_.name.contains("Fixpoint.scala")))

  test("one resolution per session: storedComponents publishes the neardupComponents memo") {
    val text = (0 until 30).map(i => s"w$i").mkString(" ")
    val rows = Seq((1L, text), (2L, text + " dup"), (4L, text + " dup"),
      (3L, "some other words entirely"))
    def labelsOf(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (storedFirst <- Seq(false, true)) {
      val s = spark.newSession() // fresh memos over a fresh corpus: a cold key
      val dir = tempCorpus(rows)
      try {
        // the pair graph first, so that only the loops' own jobs are counted
        Dedup.cachedMinhashPairs(s, dir).count()
        val builds = IndexStore.builds.get()
        val ((memo, stored), jobs) = withJobs {
          if (storedFirst) {
            val st = labelsOf(BandIndex.storedComponents(s, dir))
            (labelsOf(Dedup.neardupComponents(s, dir)), st)
          } else {
            val m = labelsOf(Dedup.neardupComponents(s, dir))
            (m, labelsOf(BandIndex.storedComponents(s, dir)))
          }
        }
        assert(memo == Map(1L -> 1L, 2L -> 1L, 4L -> 1L) && stored == memo)
        assert(IndexStore.builds.get() == builds + 1)
        // one loop: as many Fixpoint jobs as one resolution of the graph
        val (one, loop) = withJobs(ConnectedComponents.resolve(
          Dedup.cachedMinhashPairs(s, dir).select("d1", "d2"), "d1", "d2"))
        SessionCaches.free(one)
        assert(fixpointJobs(loop) > 0)
        assert(fixpointJobs(jobs) == fixpointJobs(loop),
          s"storedFirst=$storedFirst: ${fixpointJobs(jobs)} Fixpoint jobs, one loop is " +
            fixpointJobs(loop))
      } finally SessionCaches.release(s)
    }
  }

  test("IndexStore: a session reads an artifact once; a rebuilt artifact is read afresh") {
    import spark.implicits._
    val dir = tempCorpus(Seq((1L, "a b c")))
    def read(n: Long): DataFrame = IndexStore.getOrBuild(spark, dir, "documents", "spec_read") {
      spark.range(n).toDF("id")
    }
    assert(read(3).count() == 3)
    // parquet schema inference parallelizes the footers to read outside
    // any plan node: its collection keeps the `parallelize` scope
    val (again, jobs) = withJobs(read(3).as[Long].collect().toSet)
    assert(again == Set(0L, 1L, 2L))
    val inference = jobs.count(_.exists(_.rddInfos.exists(r =>
      r.name == "ParallelCollectionRDD" && r.scope.forall(_.name == "parallelize"))))
    assert(inference == 0, s"a warm read ran $inference schema-inference jobs")
    org.apache.commons.io.FileUtils.deleteDirectory(
      IndexStore.indexDir(spark, dir, "documents", "spec_read"))
    assert(read(5).as[Long].collect().toSet == (0L until 5L).toSet)
  }

  test("IndexStore: a changed corpus moves the artifact directory (staleness key)") {
    import spark.implicits._
    val dir = tempCorpus(Seq((1L, "a b c")))
    val d1 = IndexStore.indexDir(spark, dir, "documents", "spec_fp")
    // rewrite the corpus with different content; a FRESH session
    // (fingerprints are memoized per session) must see a new dir
    Seq((1L, "a b c CHANGED")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d2 = IndexStore.indexDir(spark.newSession(), dir, "documents", "spec_fp")
    assert(d1.getName != d2.getName,
      s"content change must re-key the artifact: $d1 vs $d2")
  }

  test("minhash_incremental_indexed == minhash_incremental (stored index is byte-equal)") {
    import spark.implicits._
    val direct = Dedup.minhashIncremental(spark, sfDir)
      .as[Long].collect().sorted
    val indexed = BandIndex.minhashIncrementalIndexed(spark, sfDir)
      .as[Long].collect().sorted
    assert(indexed.toSeq == direct.toSeq)
  }

  test("indexed plan: corpus side is a FileScan of the stored artifact, " +
    "exactly one signature kernel (the batch's)") {
    // ensure the artifact exists so the plan under test is the read path
    BandIndex.standingBands(spark, sfDir).count()
    val p = BandIndex.minhashIncrementalIndexed(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_index"),
      s"corpus side must scan the stored index:\n$p")
    val kernels = "MapPartitions".r.findAllIn(p).length
    assert(kernels == 1,
      s"expected exactly the batch-side signature kernel, got $kernels:\n$p")
    // the recomputing twin pays the kernel on BOTH sides
    val p2 = Dedup.minhashIncremental(spark, sfDir)
      .queryExecution.executedPlan.toString
    val kernels2 = "MapPartitions".r.findAllIn(p2).length
    assert(kernels2 == 2,
      s"unindexed twin should carry two signature kernels, got $kernels2:\n$p2")
  }

  test("neardup_clusters_indexed == neardup_clusters") {
    import spark.implicits._
    val direct = Dedup.neardupClusters(spark, sfDir)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val indexed = BandIndex.neardupClustersIndexed(spark, sfDir)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(indexed.toSeq == direct.toSeq)
  }

  test("mergeBands upsert: a re-ingested doc's old bands are dropped, fresh docs append") {
    import spark.implicits._
    val stored = Seq(
      (1L, 0, "old-sig-1"), (1L, 1, "old-sig-2"),  // doc 1: re-ingested below
      (2L, 0, "keep-sig")                            // doc 2: untouched
    ).toDF("doc_id", "band", "sig")
    val batch = Seq(
      (1L, 0, "new-sig-1"), (1L, 1, "new-sig-2"),  // doc 1's NEW signature
      (3L, 0, "fresh-sig")                           // doc 3: brand new
    ).toDF("doc_id", "band", "sig")
    val got = BandIndex.mergeBands(stored, batch)
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 0, "new-sig-1"), (1L, 1, "new-sig-2"),
      (2L, 0, "keep-sig"),
      (3L, 0, "fresh-sig")))
  }

  test("index_refresh stats equal a from-scratch full-corpus band census") {
    import spark.implicits._
    val got = BandIndex.indexRefresh(spark, sfDir)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    val expected = Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
        Dedup.cachedDocShingles(spark, sfDir)))
      .groupBy("band")
      .agg(count(lit(1)).as("n_entries"),
        countDistinct("sig").as("n_buckets"),
        countDistinct("doc_id").as("n_docs"))
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
  }

  test("IndexStore: a changed parameter fingerprint moves the artifact directory") {
    val dir = tempCorpus(Seq((1L, "a b c")))
    val d1 = IndexStore.indexDir(spark, dir, "documents", "spec_params", "h=32,r=4")
    val d2 = IndexStore.indexDir(spark, dir, "documents", "spec_params", "h=64,r=4")
    assert(d1.getName != d2.getName,
      "an algorithm-parameter change must re-key the artifact " +
        s"(else stale-parameter indexes are silently reused): $d1 vs $d2")
  }

  test("index_retract: erased docs vanish from both published artifacts; " +
    "acceptance is monotone and a doc suppressed only by an erased dup flips") {
    import spark.implicits._
    // corpus (even ids): 24 is ERASED (24 % 10 == 4); 2 stays. batch
    // (odd ids): 31 duplicates 24 exactly (its ONLY near-dup), 33 is
    // unique. Expected: 31 rejected before, accepted after (the flip
    // the verdict asks for); 33 accepted in both.
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val dir = tempCorpus(Seq(
      (24L, dup),
      (2L, "completely unrelated corpus text that matches nothing else here"),
      (31L, dup),
      (33L, "a unique batch document with its very own words throughout")))
    val got = BandIndex.indexRetract(spark, dir)
      .as[(Long, Boolean, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((31L, false, true), (33L, true, true)))
    // monotone everywhere: erasure only removes suppressors
    got.foreach { case (id, before, after) =>
      assert(!before || after, s"doc $id flipped accepted -> rejected")
    }
    // the published band artifact holds NO erased doc's bands
    val bands = BandIndex.retractedBands(spark, dir)
    assert(bands.filter(col("doc_id") % 10 === 4).count() == 0,
      "erased doc bands survived in the published retracted index")
    assert(bands.filter(col("doc_id") === 2L).count() > 0,
      "non-erased corpus bands must survive retraction")
  }

  test("retracted CC labels: no erased ids, labels == union-find over the filtered pairs") {
    import spark.implicits._
    val got = BandIndex.retractedComponents(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(got.keys.forall(_ % 10 != 4), "erased id present in retracted labels")
    assert(got.values.forall(_ % 10 != 4), "erased id elected as a retracted label")
    // driver-side union-find truth over the pair graph minus erased endpoints
    val pairs = Dedup.cachedMinhashPairs(spark, sfDir)
      .select("d1", "d2").as[(Long, Long)].collect()
      .filter(p => p._1 % 10 != 4 && p._2 % 10 != 4)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
    val want = nodes.map(n => n -> minOf(find(n))).toMap
    assert(got == want)
  }

  test("pq codebooks: the stored artifact round-trips bit-identical to fresh training") {
    val viaStore = similarity.Similarity.trainPqCodebooks(spark, sfDir)
    val fresh = similarity.Similarity.trainPqCodebooksFresh(spark, sfDir)
    for (m <- viaStore.indices; c <- viaStore(m).indices)
      assert(java.util.Arrays.equals(viaStore(m)(c), fresh(m)(c)),
        s"codebook ($m, $c) drifted through the parquet round-trip")
  }

  test("expireVersions: survivors stable, expired versions gone, " +
    "read-beyond-retention fails loudly (round-12 verdict #4)") {
    import spark.implicits._
    val dir = tempCorpus(Seq((1L, "a b c d"), (2L, "e f g h")))
    // three versioned publishes of distinguishable content
    val vs = (0 until 3).map { k =>
      val df = IndexStore.writeVersioned(spark, dir, "documents",
        "spec_expire", spark.range(10).select(col("id"), lit(k).as("ver")))
      // inputFiles points into the version's own directory (file: URI)
      new java.io.File(new java.net.URI(df.inputFiles.head)).getParentFile
    }
    val survivors = IndexStore.expireVersions(spark, dir, "documents",
      "spec_expire", keep = 2)
    // newest two survive, newest first; v0 is physically gone
    assert(survivors.map(_.getName) == Seq(vs(2).getName, vs(1).getName))
    assert(!vs(0).exists(), "expired version directory still on disk")
    // survivors read back row-identical (retention touched nothing live)
    for ((d, k) <- Seq((vs(2), 2), (vs(1), 1))) {
      val got = spark.read.parquet(d.getAbsolutePath)
        .as[(Long, Int)].collect().toSet
      assert(got == (0L until 10L).map((_, k)).toSet)
    }
    // a read beyond retention fails loudly, never as silent data
    intercept[Exception] {
      spark.read.parquet(vs(0).getAbsolutePath).collect()
    }
    // idempotent: re-expiring changes nothing
    assert(IndexStore.expireVersions(spark, dir, "documents",
      "spec_expire", keep = 2).map(_.getName) == survivors.map(_.getName))
    // keep must retain at least one version
    intercept[IllegalArgumentException] {
      IndexStore.expireVersions(spark, dir, "documents", "spec_expire", keep = 0)
    }
  }

  test("index_expire: survivor census matches recomputation; version 0 " +
    "is expired and unreadable") {
    import spark.implicits._
    val got = BandIndex.indexExpire(spark, sfDir)
    // ver_back 1 (the refresh merge) covers every doc's bands; ver_back
    // 0 (the retraction) drops erased (%10 == 4) docs
    val allBands = Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
      Dedup.cachedDocShingles(spark, sfDir)))
    def census(df: org.apache.spark.sql.DataFrame) = df.groupBy("band")
      .agg(count(lit(1)).as("n_entries"),
        countDistinct("sig").as("n_buckets"),
        countDistinct("doc_id").as("n_docs"))
      .as[(Int, Long, Long, Long)].collect().toSet
    val v1 = census(allBands)
    val v2 = census(allBands.filter(!(col("doc_id") % 10 === 4)))
    val gotByVer = got.as[(Int, Int, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (v, rs) =>
        v -> rs.map(r => (r._2, r._3, r._4, r._5)).toSet
      }
    assert(gotByVer(1) == v1, "refresh-merge survivor census diverged")
    assert(gotByVer(0) == v2, "retraction survivor census diverged")
    // the expired generation is gone: reading bands-v0 fails loudly
    val root = IndexStore.indexDir(spark, sfDir, "documents",
      "bands_expire_log", Dedup.MinhashIndexParams)
    assert(!new java.io.File(root, "bands-v0").exists(),
      "expired version still present in the published log")
  }
}
