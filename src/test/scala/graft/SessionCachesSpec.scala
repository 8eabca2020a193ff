package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{BandIndex, Dedup}
import graft.operators.{ConnectedComponents, PageRank, SqlSurface}
import graft.similarity.Similarity
import graft.sources.OrcSource
import graft.streaming.IngestDedup
import graft.text.{CorpusOps, TextAnalysis}

/** The session-state registry's lifecycle: what [[SessionCaches.release]]
  * frees, what the context-stop listener drops, and that checkpointed
  * frames the loops supersede really leave the block manager. */
class SessionCachesSpec extends AnyFunSuite with SharedSpark {

  private def persistentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointRddId(df: DataFrame): Int = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.id
    case other => fail(s"not a checkpointed frame: ${other.nodeName}")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("ConnectedComponents: the only persistent RDD a resolution leaves is the returned frame's") {
    import spark.implicits._
    // a diameter-6 chain plus a triangle: several superseded rounds
    val edges = ((1L until 7L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L))).toDF("a", "b")
    for ((mode, resolve) <- Seq[(String, DataFrame => DataFrame)](
        "propagation" -> (ConnectedComponents.resolve(_, "a", "b")),
        "alternating" -> (ConnectedComponents.resolveAlternating(_, "a", "b")))) {
      val before = persistentIds()
      val labels = resolve(edges)
      val added = persistentIds() -- before
      assert(added == Set(checkpointRddId(labels)),
        s"$mode left persistent RDDs $added beyond the returned frame")
      assert(labels.as[(Long, Long)].collect().toMap ==
        ((1L to 7L).map(_ -> 1L) ++ Seq(20L, 21L, 22L).map(_ -> 20L)).toMap)
      SessionCaches.free(labels)
      assert((persistentIds() -- before).isEmpty, s"$mode: free left blocks behind")
    }
  }

  test("the probe closure leaves nothing persistent but registry memos once its result is freed") {
    def sliceOnce(s: SparkSession): Unit = {
      val clusters = Dedup.neardupClustersSlice(s, sfDir)
      assert(clusters.collect().nonEmpty)
      SessionCaches.free(clusters)
    }
    // cold, in a child session: what the registry owns goes with release
    val before = persistentIds()
    val child = spark.newSession()
    sliceOnce(child)
    SessionCaches.release(child)
    val coldLeft = persistentIds() -- before
    assert(coldLeft.isEmpty, s"a cold closure left persistent RDDs $coldLeft")
    // warm: the memos exist, so the call itself must leave nothing
    sliceOnce(spark)
    val warm = persistentIds()
    sliceOnce(spark)
    val warmLeft = persistentIds() -- warm
    assert(warmLeft.isEmpty, s"a warm closure left persistent RDDs $warmLeft")
  }

  test("release frees a child session's frames, checkpoints and broadcasts; the shared session keeps its own") {
    // the shared session holds entries of its own throughout,
    // among them the persisted partsupp frame
    SqlSurface.minCostSupplier(spark, sfDir).count()
    val sharedEntries = SessionCaches.entryCount(spark)
    val child = spark.newSession()
    // one query per family that owns a memo
    def queries(s: SparkSession): Seq[DataFrame] = Seq(
      Dedup.neardupClusters(s, sfDir),
      Dedup.minhashRecall(s, sfDir),
      BandIndex.minhashIncrementalIndexed(s, sfDir),
      Similarity.similarAnnIvf(s, sfDir),
      TextAnalysis.evalDecontaminationBloom(s, sfDir),
      TextAnalysis.lmDocLikelihood(s, sfDir),
      CorpusOps.bpeEncodeStats(s, sfDir),
      PageRank.pagerankTradeGraph(s, sfDir),
      SqlSurface.minCostSupplier(s, sfDir),
      OrcSource.orcRoundtripAgg(s, sfDir),
      IngestDedup.ingestDedupFold(s, sfDir),
      Tables.load(s, sfDir, "orders"))
    val before = persistentIds()
    val first = queries(child).map(rows)
    val (sup, cells) = Similarity.hierState(child, sfDir)
    assert(sup.nonEmpty && cells.nonEmpty)
    val owned = persistentIds() -- before
    assert(owned.nonEmpty, "the child session persisted nothing of its own")
    val broadcasts = SessionCaches.valuesOf(child).collect { case b: Broadcast[_] => b }
    assert(broadcasts.nonEmpty, "the Bloom broadcast is not a registry entry")

    SessionCaches.release(child)

    assert(SessionCaches.entryCount(child) == 0)
    val left = owned.intersect(persistentIds())
    assert(left.isEmpty, s"release left the child's RDDs $left persistent")
    broadcasts.foreach(b => intercept[Exception](b.value))
    assert(SessionCaches.entryCount(spark) == sharedEntries)
    // Spark's cache is shared across sessions for equal plans: the
    // child's partsupp frame rode the shared session's cache entry, and
    // releasing the child must not evict it
    assert(spark.table("partsupp").storageLevel != StorageLevel.NONE,
      "releasing the child evicted the shared session's cached frame")
    assert(queries(child).map(rows) == first, "rebuilt memos changed a result")
    SessionCaches.release(child)
  }

  test("the context-stop listener drops every entry of the stopping context") {
    val child = spark.newSession()
    Tables.load(child, sfDir, "orders")
    Tables.load(spark, sfDir, "orders")
    assert(SessionCaches.entryCount(child) > 0 && SessionCaches.entryCount(spark) > 0)
    SessionCaches.stopListener(spark.sparkContext)
      .onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(SessionCaches.entryCount(child) == 0)
    assert(SessionCaches.entryCount(spark) == 0)
    // the registry keeps serving: the next miss rebuilds and re-registers
    assert(Tables.load(spark, sfDir, "orders").count() > 0)
    assert(SessionCaches.stopListener(spark.sparkContext) != null)
  }

  test("a failed build leaves no entry; the next call builds afresh") {
    val child = spark.newSession()
    intercept[IllegalStateException] {
      SessionCaches.memo(child, "spec.failing", 1)(throw new IllegalStateException("boom"))
    }
    assert(SessionCaches.entryCount(child) == 0)
    assert(SessionCaches.memo(child, "spec.failing", 1)(42) == 42)
    assert(SessionCaches.memo(child, "spec.failing", 1)(-1) == 42)
    SessionCaches.release(child)
  }
}
