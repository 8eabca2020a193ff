package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.streaming.IngestDedup

/** The near-dup rule's 0.5 boundary, across every form that decides it:
  * the batch step, the ingest stream's driver-side step, and the
  * incremental queries (recomputed and indexed). A stored doc `a` of 40
  * words (38 shingles) is doc 0. Doc 1 is `a` plus 38 fresh words:
  * all of a's shingles are shared, Jaccard 38/76 = 0.5 exactly. Doc 3 is
  * `a` plus 39 fresh words: Jaccard 38/77, the largest value below 0.5
  * that any doc reaches against a 38-shingle doc. Each form must reject
  * doc 1 and accept doc 3. */
class NearDupBoundarySpec extends AnyFunSuite with SharedSpark {

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def keys(t: String) = Dedup.bandKeys(Dedup.signature(Dedup.shingleSet(t))).toSet

  /** (a, at 0.5, below 0.5), the first vocabulary whose below-0.5 doc
    * shares a band bucket with `a`. The at-0.5 doc's shingles lie
    * between the two, so it shares that bucket too. */
  private lazy val (a, atHalf, below) = (0 until 200).iterator.map { i =>
    val words = (0 until 40).map(j => s"a${i}_$j")
    val fresh = (0 until 39).map(j => s"b${i}_$j")
    (words.mkString(" "), (words ++ fresh.take(38)).mkString(" "), (words ++ fresh).mkString(" "))
  }.find { case (s, _, t) => (keys(s) & keys(t)).nonEmpty }.get

  private def docs = Seq((0L, a), (1L, atHalf), (3L, below))

  test("the pairs sit on the boundary and share a bucket; the driver rule splits them") {
    def jac(x: String, y: String) = {
      val (s, t) = (Dedup.shingleSet(x).toSet, Dedup.shingleSet(y).toSet)
      (s & t).size.toDouble / (s | t).size
    }
    assert(jac(a, atHalf) == 0.5)
    assert(jac(a, below) == 38.0 / 77)
    assert((keys(a) & keys(atHalf)).nonEmpty)
    val stored = Dedup.shingleSet(a).toSet
    assert(Dedup.isNearDup(Dedup.shingleSet(atHalf), stored))
    assert(!Dedup.isNearDup(Dedup.shingleSet(below), stored))
  }

  test("dedupStep rejects the 0.5 doc and accepts the one below") {
    import spark.implicits._
    val index = Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
      Seq((0L, Dedup.shingleSet(a))).toDF("doc_id", "sh")))
    val accepted = IngestDedup.dedupStep(spark, docs.tail.toDF("doc_id", "text"), index,
      Seq((0L, a)).toDF("doc_id", "text")).as[Long].collect().toSet
    assert(accepted == Set(3L))
  }

  test("the ingest stream rejects the 0.5 doc and accepts the one below") {
    import spark.implicits._
    val (inDir, ckpt, idx, acc) = (tmp("ndb_in"), tmp("ndb_ckpt"), tmp("ndb_idx"), tmp("ndb_acc"))
    IngestDedup.seed(spark, Seq((0L, a)).toDF("doc_id", "text"), idx, acc)
    docs.tail.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").json(s"$inDir/b0")
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val q = IngestDedup.start(spark,
      spark.readStream.schema(schema).option("recursiveFileLookup", "true").json(inDir),
      idx, acc, ckpt)
    try q.processAllAvailable() finally q.stop()
    val accepted = spark.read.parquet(acc).filter(col("batch") >= 0)
      .select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(3L))
  }

  test("minhash_incremental, minhash_incremental_indexed and minhash_neardup agree on the boundary") {
    import spark.implicits._
    // a corpus of its own: even ids stored, odd ids the batch, and
    // IndexStore artifacts keyed to this content
    val dir = tmp("ndb_corpus")
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (q <- Seq("minhash_incremental", "minhash_incremental_indexed"))
      assert(SparkEntry.queries(q)(spark, dir).as[Long].collect().toSet == Set(3L), q)
    val pairs = SparkEntry.queries("minhash_neardup")(spark, dir)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.get((0L, 1L)).contains(0.5))
    assert(!pairs.contains((0L, 3L)))
  }
}
