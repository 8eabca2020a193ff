package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** The reference's one concrete job, re-expressed declaratively.
  *
  * Reference semantics (see SURVEY.md §2b):
  *  - Tokenization splits on a SINGLE space, not general whitespace
  *    (`src/edu/upenn/cis455/mapreduce/job/WordCount.java:26`). Java's
  *    `String.split` drops trailing empty tokens but keeps interior ones;
  *    we normalize by dropping ALL empty tokens in both the engine and the
  *    DuckDB oracle (documented divergence, SURVEY.md §7).
  *  - `map` emits one (word, perLineCount) partial per DISTINCT word per
  *    line (`WordCount.java:25-42`, per-line HashMap).
  *  - `reduce` emits `values.length` — the COUNT of partials, not their
  *    sum (`WordCount.java:48-52`). So the faithful answer is
  *    "number of rows containing the word" (line/document frequency), NOT
  *    total occurrences. `linefreq` pins the faithful semantics;
  *    `total` is the conventional wordcount.
  *
  * Scale notes: both queries are scan → explode → hash-aggregate. Spark
  * performs map-side partial aggregation automatically (the reference's
  * per-line HashMap combiner, generalized), so the shuffle carries one row
  * per (partition, word), not one per token — the only shuffle is the
  * final per-word exchange, which is the minimum possible.
  *
  * Every text, corpus and near-dup query tokenizes by this rule, so this
  * object owns it once: the tokenizer ([[tokens]], [[words]]), the word
  * window ([[grams]]) and the md5-60 content hash ([[fp60]]).
  */
object WordCount {

  /** Single-space tokenization with empty tokens dropped (both engines).
    * `array_remove` states the rule without a lambda, so it stays inside
    * whole-stage codegen (a higher-order `filter` is evaluated per
    * element outside it). */
  def tokens(c: Column): Column = array_remove(split(c, " ", -1), "")

  /** Scala twin of [[tokens]], for typed kernels: U+0020 is the only
    * separator; tabs, case and punctuation stay inside tokens. */
  def words(text: String): Array[String] = text.split(" ", -1).filter(_.nonEmpty)

  /** The `n`-token windows of `ws` in order, tokens joined by `sep`:
    * `ws.length - n + 1` grams, none when `n` exceeds the length. */
  def grams(ws: Array[String], n: Int, sep: String): Iterator[String] =
    Iterator.range(0, ws.length - n + 1).map { i =>
      val sb = new java.lang.StringBuilder(ws(i))
      var j = i + 1
      while (j < i + n) { sb.append(sep).append(ws(j)); j += 1 }
      sb.toString
    }

  /** The md5-60 fold: the first 15 hex digits of md5 as a non-negative
    * long, the content hash behind shingle hashes, splits and samples.
    * DuckDB spells it `CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)`. */
  def fp60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** JVM twin of [[fp60]] over the UTF-8 bytes of `s`: the first 7
    * digest bytes and the high nibble of the 8th. */
  def fp60(md: java.security.MessageDigest, s: String): Long = {
    val b = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    (v << 4) | ((b(7) & 0xffL) >>> 4)
  }

  /** Conventional wordcount: total occurrences per word. */
  def total(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Faithful reference semantics (`WordCount.java:51`): per word, the
    * number of rows whose text contains it at least once. */
  def linefreq(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("linefreq"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordcount_total" -> (total _),
    "wordcount_linefreq" -> (linefreq _))

  val oracles: Map[String, String] = Map(
    "wordcount_total" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE length(word) > 0
        |GROUP BY word""".stripMargin,
    "wordcount_linefreq" ->
      """SELECT word, count(*) AS linefreq
        |FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |      FROM documents) t
        |WHERE length(word) > 0
        |GROUP BY word""".stripMargin)
}
