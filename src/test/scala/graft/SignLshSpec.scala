package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.Similarity

/** The one sign-LSH kernel ([[Similarity.signBands]]) against a
  * plain-Scala replay built from [[Similarity.planeEntry]] alone: bit j
  * of band k is set when the left-to-right dot of the vector with
  * plane (k·bits + j) is > 0. */
class SignLshSpec extends AnyFunSuite with SharedSpark {

  private def vecs = Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def corpus: Map[Long, Array[Double]] = {
    import spark.implicits._
    vecs.as[(Long, Array[Double])].collect().toMap
  }

  private def replay(v: Array[Double], bands: Int, bits: Int): Seq[Long] = {
    val planes = Array.tabulate(bands * bits, Similarity.Dim)(Similarity.planeEntry)
    (0 until bands).map { k =>
      (0 until bits).foldLeft(0L) { (b, j) =>
        var dot = 0.0
        for (d <- v.indices) dot += v(d) * planes(k * bits + j)(d)
        if (dot > 0) b | (1L << j) else b
      }
    }
  }

  test("planeEntry is the parity of the 60-bit md5 prefix of \"j_d\"") {
    // every plane any band family up to KnnMaxBits bits reads
    for (j <- 0 until Similarity.NeardupBands * Similarity.KnnMaxBits;
         d <- 0 until Similarity.Dim) {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"${j}_$d".getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      val want = if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1.0 else -1.0
      assert(Similarity.planeEntry(j, d) == want, s"plane entry ($j, $d)")
    }
  }

  test("banded(vecs, bits) equals the replay at LshBits and at 10 bits") {
    import spark.implicits._
    val byId = corpus
    assert(byId.size > 1)
    for (bits <- Seq(Similarity.LshBits, 10)) {
      val got = Similarity.banded(vecs, bits)
        .select("vec_id", "band", "bucket").as[(Long, Int, Long)].collect()
        .groupBy(_._1).map { case (id, rows) => id -> rows.sortBy(_._2).map(_._3).toSeq }
      val want = byId.map { case (id, v) => id -> replay(v, Similarity.NeardupBands, bits) }
      assert(got == want, s"bits = $bits")
      assert(want.values.flatten.forall(b => b >= 0 && b < (1L << bits)))
    }
  }

  test("band 0 is the bucket similar_ann_lsh joins on") {
    import spark.implicits._
    val byId = corpus
    val band0 = byId.map { case (id, v) => id -> replay(v, 1, Similarity.LshBits).head }
    val lsh = vecs.select(col("vec_id"), Similarity.lshBucket(col("v")))
      .as[(Long, Long)].collect().toMap
    assert(lsh == band0)
    assert(band0 == byId.map { case (id, v) =>
      id -> replay(v, Similarity.NeardupBands, Similarity.LshBits).head })
    // similar_ann_lsh is exactly the top K of each probe's replayed bucket
    def cos(a: Array[Double], b: Array[Double]) =
      Similarity.dotA(a, b) / (math.sqrt(Similarity.dotA(a, a)) * math.sqrt(Similarity.dotA(b, b)))
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (0L until Similarity.NumProbes).filter(byId.contains).flatMap { p =>
      byId.toSeq.filter { case (id, _) => id != p && band0(id) == band0(p) }
        .map { case (id, v) => (p, id, cos(byId(p), v)) }
        .sortBy { case (_, id, s) => (-s, id) }.take(Similarity.K)
        .map { case (p, id, s) => (p, id, round6(s)) }
    }.toSet
    val got = Similarity.similarAnnLsh(spark, sfDir).as[(Long, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("signBands returns one UDF per (bands, bits)") {
    assert(Similarity.signBands(4, 6) eq Similarity.signBands(4, 6))
    assert(Similarity.signBands(4, 6) ne Similarity.signBands(4, 10))
  }
}
