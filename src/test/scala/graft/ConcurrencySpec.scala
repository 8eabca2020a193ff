package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.similarity.Similarity

/** Multi-tenant correctness (round-9 verdict #6): the session-scoped
  * memos ([[SessionCaches.memo]]) under real racing
  * threads, and result equality between concurrent and serial runs of
  * the same queries. BenchConcurrent measures the throughput side;
  * this spec pins the correctness side at test SF. */
class ConcurrencySpec extends AnyFunSuite with SharedSpark {

  private def inThreads[A](n: Int)(body: Int => A): Seq[A] = {
    val out = new ConcurrentLinkedQueue[A]()
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { i =>
      new Thread(() => {
        try out.add(body(i))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(errs.isEmpty, s"worker threads threw: ${errs.asScala.map(_.toString)}")
    out.asScala.toSeq
  }

  test("racing memo builds: 4 threads hit cold caches, all get identical pair lists") {
    import spark.implicits._
    // drop this session's memos so all four threads race the SAME
    // memo on a cold registry
    SessionCaches.release(spark)
    val results = inThreads(4) { _ =>
      Dedup.cachedMinhashPairs(spark, sfDir)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    }
    assert(results.nonEmpty)
    assert(results.forall(_ == results.head),
      "racing builders returned different pair lists")
  }

  test("nested memo chain: 4 threads cold-build neardupComponents, each key built once") {
    import spark.implicits._
    // a fresh session: every memo of the components -> pairs -> bands
    // -> shingles chain is cold, and the builds nest inside each other
    val s = spark.newSession()
    val chain = Seq("dedup.components", "dedup.pairs", "dedup.bands", "dedup.shingles")
    val before = chain.map(SessionCaches.buildCount)
    val results = inThreads(4) { _ =>
      Dedup.neardupComponents(s, sfDir)
        .as[(Long, Long)].collect().sorted.toSeq
    }
    assert(chain.map(SessionCaches.buildCount).zip(before).map { case (a, b) => a - b } ==
      Seq(1L, 1L, 1L, 1L), s"builds per key of $chain")
    assert(results.size == 4 && results.forall(_ == results.head),
      "racing builders returned different components")
    assert(results.head == Dedup.neardupComponents(spark, sfDir)
      .as[(Long, Long)].collect().sorted.toSeq)
    SessionCaches.release(s)
  }

  test("ANN memo chain: 4 threads cold-build ann_recall, each key built once") {
    import spark.implicits._
    // a fresh session: the vectors, exact top-k, IVF centroid,
    // assignment and PQ codebook memos are all cold, and the IVF and
    // PQ builds nest inside each other
    val s = spark.newSession()
    val chain = Seq("similarity.vectors", "similarity.exactTopk",
      "similarity.centroids", "similarity.ivfAssign", "similarity.pq")
    val before = chain.map(SessionCaches.buildCount)
    def recall(session: org.apache.spark.sql.SparkSession) =
      Similarity.annRecall(session, sfDir)
        .as[(Long, String, Long, Double)].collect().sorted.toSeq
    val results = inThreads(4)(_ => recall(s))
    assert(chain.map(SessionCaches.buildCount).zip(before).map { case (a, b) => a - b } ==
      Seq.fill(chain.size)(1L), s"builds per key of $chain")
    assert(results.size == 4 && results.forall(_ == results.head),
      "racing builders returned different recall rows")
    assert(results.head == recall(spark))
    SessionCaches.release(s)
  }

  test("getOrBuildLayout: racing builders publish one store, losers clean up, reads agree") {
    import org.apache.spark.sql.functions.lit
    // unique params => a fresh artifact key, so the race is on a cold
    // store every run (the artifact root accumulates one tiny dir per
    // run; the hourly tmp sweep covers crashed leftovers)
    val params = "spec-race-" + java.util.UUID.randomUUID()
    val dirs = inThreads(4) { i =>
      IndexStore.getOrBuildLayout(spark, sfDir, "documents",
        "race_layout", params) { root =>
        spark.range(100).withColumn("builder", lit(i))
          .write.mode("overwrite")
          .parquet(new java.io.File(root, "batch=0").getAbsolutePath)
      }
    }
    assert(dirs.map(_.getAbsolutePath).distinct.size == 1,
      "racing builders resolved to different artifact dirs")
    val target = dirs.head
    assert(new java.io.File(target, "_SUCCESS").exists())
    // one winner's content, readable, consistent: all 100 ids, ONE
    // builder id (a torn mix of two builders' files would show here)
    val rows = spark.read.parquet(target.getAbsolutePath)
    assert(rows.count() == 100)
    assert(rows.select("builder").distinct().count() == 1)
    // losers removed their staging dirs
    val leftovers = target.getParentFile.listFiles()
      .filter(_.getName.startsWith(target.getName + ".tmp-"))
    assert(leftovers.isEmpty, s"orphaned staging dirs: ${leftovers.toSeq}")
  }

  test("binaryFileDir: 4 threads stage a fresh corpus cold, one build") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_binrace").toString
    spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 20)
      .write.parquet(s"$dir/documents.parquet")
    val before = IndexStore.builds.get()
    val dirs = inThreads(4)(_ => multimodal.Multimodal.binaryFileDir(spark, dir))
    assert(dirs.distinct.size == 1, s"racing stagers resolved to ${dirs.distinct}")
    val built = IndexStore.builds.get() - before
    assert(built == 1, s"racing stagers ran $built builds")
    val target = new java.io.File(dirs.head)
    assert(new java.io.File(target, "_SUCCESS").exists())
    assert(target.listFiles().count(_.getName.endsWith(".bin")) ==
      spark.read.parquet(s"$dir/documents.parquet").count())
    val leftovers = IndexStore.root.listFiles().map(_.getName)
      .filter(n => n.startsWith(target.getName) && n.contains(".tmp-"))
    assert(leftovers.isEmpty, s"orphaned staging dirs: ${leftovers.toSeq}")
  }

  test("4 concurrent streams of mixed queries equal their serial results") {
    // memo-heavy + join-heavy + kernel queries, the mix a multi-tenant
    // session serves; FAIR pool labels exercise per-thread scheduling
    val picks = Seq("minhash_neardup", "neardup_clusters", "lm_doc_likelihood",
      "tfidf_top_terms", "wordcount_total", "join_orders_customers",
      "similar_ann_ivf", "dedup_exact")
    val serial = picks.map { n =>
      n -> SparkEntry.queries(n)(spark, sfDir).collect()
        .map(_.toSeq.toString).sorted.toSeq
    }.toMap
    val concurrent = inThreads(4) { i =>
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"t$i")
      picks.zipWithIndex.collect { case (n, j) if j % 4 == i => n }.map { n =>
        n -> SparkEntry.queries(n)(spark, sfDir).collect()
          .map(_.toSeq.toString).sorted.toSeq
      }
    }.flatten.toMap
    for ((n, rows) <- concurrent)
      assert(rows == serial(n), s"$n diverged under concurrency")
  }
}
