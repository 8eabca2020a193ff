package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.streaming.IngestDedup

/** [[IngestDedup.dedupStep]], the step the batch fold runs, against the
  * stream's acceptance rule for a doc_id that is both in the batch and
  * stored. */
class IngestStepSpec extends AnyFunSuite with SharedSpark {

  test("dedupStep verifies a re-sent doc_id against its stored copies only, never against itself") {
    import spark.implicits._
    val words = (0 until 40).map(i => s"w$i")
    val a = words.mkString(" ")
    def jaccard(x: String, y: String) = {
      val (s, t) = (Dedup.shingleSet(x).toSet, Dedup.shingleSet(y).toSet)
      (s & t).size.toDouble / (s | t).size
    }
    def keys(t: String) = Dedup.bandKeys(Dedup.signature(Dedup.shingleSet(t))).toSet
    // new text for doc 1: below the Jaccard bar against its stored copy,
    // but sharing a band bucket with it, so the pair is verified
    val b = (0 until 2000).iterator.map { i =>
      val r = new scala.util.Random(i)
      val swap = r.shuffle(words.indices.toList).take(6).toSet
      words.indices.map(j => if (swap(j)) s"x${i}_$j" else words(j)).mkString(" ")
    }.find(t => jaccard(a, t) < 0.5 && (keys(a) & keys(t)).nonEmpty).get
    val stored = Seq((1L, a)).toDF("doc_id", "text")
    val index = Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
      Seq((1L, Dedup.shingleSet(a))).toDF("doc_id", "sh")))
    // doc 1's new text is accepted; doc 2, a near-dup of stored a, is not
    val batch = Seq((1L, b), (2L, a + " extra")).toDF("doc_id", "text")
    val accepted = IngestDedup.dedupStep(spark, batch, index, stored)
      .as[Long].collect().toSet
    assert(accepted == Set(1L))
    // re-sending the stored text itself is rejected
    assert(IngestDedup.dedupStep(spark, Seq((1L, a)).toDF("doc_id", "text"), index, stored)
      .count() == 0)
  }
}
