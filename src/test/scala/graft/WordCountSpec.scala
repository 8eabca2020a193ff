package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WordCount

class WordCountSpec extends AnyFunSuite with SharedSpark {

  test("linefreq <= total everywhere; same word set (SURVEY.md §2b Q3)") {
    import spark.implicits._
    val total = WordCount.total(spark, sfDir).as[(String, Long)].collect().toMap
    val lf = WordCount.linefreq(spark, sfDir).as[(String, Long)].collect().toMap
    assert(total.keySet == lf.keySet)
    lf.foreach { case (w, f) =>
      assert(f <= total(w), s"linefreq($w)=$f > total=${total(w)}")
    }
    // the quirk must be observable: some word repeats within some row
    assert(lf.exists { case (w, f) => f < total(w) },
      "fixture should contain within-line repeats, else Q3 quirk untested")
  }

  test("single-space tokenization drops empty tokens, keeps punctuation") {
    import spark.implicits._
    val df = Seq((1L, "a  b a"), (2L, "  "), (3L, "x,y x,y")).toDF("doc_id", "text")
    df.createOrReplaceTempView("tok_fixture")
    val toks = df.select(org.apache.spark.sql.functions.explode(
      WordCount.tokens(org.apache.spark.sql.functions.col("text"))).as("w"))
      .as[String].collect().sorted.toSeq
    assert(toks == Seq("a", "a", "b", "x,y", "x,y"))

    // the inputs the fixture corpus never holds: per row, the Column
    // tokenizer, its Scala twin and the legacy job's map agree on them
    for ((text, want) <- WordCountSpec.edgeCases) {
      val viaColumn = Seq(text).toDF("text")
        .select(WordCount.tokens(org.apache.spark.sql.functions.col("text")))
        .as[Seq[String]].head()
      assert(viaColumn == want, s"tokens(${text.map(_.toInt)})")
      assert(WordCount.words(text).toSeq == want, s"words(${text.map(_.toInt)})")
      val emitted = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      graft.legacy.WordCountJob.map("k", text, (w, c) => emitted += ((w, c)))
      assert(emitted.toMap == want.groupBy(identity).map { case (w, ws) => w -> ws.size.toString },
        s"WordCountJob.map(${text.map(_.toInt)})")
    }
  }

  test("grams: n-token windows in order, none when n exceeds the length") {
    val ws = Array("a", "b", "c")
    assert(WordCount.grams(ws, 4, " ").isEmpty)
    assert(WordCount.grams(ws, 3, "|").toSeq == Seq("a|b|c"))
    assert(WordCount.grams(ws, 2, " ").toSeq == Seq("a b", "b c"))
    assert(WordCount.grams(ws, 1, " ").toSeq == Seq("a", "b", "c"))
    assert(WordCount.grams(Array.empty[String], 1, " ").isEmpty)
  }
}

object WordCountSpec {
  /** Token-rule edge cases and their tokens: U+0020 is the only
    * separator and empty tokens are dropped; tabs, punctuation and
    * non-ASCII text stay inside tokens. */
  val edgeCases: Seq[(String, Seq[String])] = Seq(
    " lead" -> Seq("lead"),
    "trail " -> Seq("trail"),
    "a   b  a" -> Seq("a", "b", "a"),
    "" -> Seq(),
    "   " -> Seq(),
    "tab\there x" -> Seq("tab\there", "x"),
    "语言 模型 语言" -> Seq("语言", "模型", "语言"),
    " a\tb  c, d.  e " -> Seq("a\tb", "c,", "d.", "e"))
}
