package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.WordCount

/** CSV + JSON source/sink round-trips — the two most common ingest
  * formats, certified end-to-end on the [[OrcSource]] pattern: write
  * the documents table out once per corpus fingerprint, read it BACK,
  * aggregate, and let the ORACLE compute the same aggregate from the
  * ORIGINAL parquet — any quoting, escaping, type, or row-splitting
  * drift in the write/read cycle mismatches the hash.
  *
  * The corpus text contains no commas, quotes, or newlines (synthetic
  * tokens), so a bare round-trip would certify nothing about the hard
  * part of CSV. The writer therefore adds a `tricky` column synthesized
  * from (doc_id, lang) that embeds a double quote, a comma, a literal
  * newline, and a backslash — the four characters that break naive CSV
  * handling — and the aggregate fingerprints the parsed-back values.
  * The oracle PREDICTS the same fingerprints from doc_id/lang directly
  * (the synthesize-then-process idiom), so a mangled quote or a
  * mid-field row split shows up as a CORRECTNESS failure.
  *
  * Scale notes, deliberately asymmetric between the two formats:
  *  - CSV with embedded newlines needs `multiLine=true`, which makes
  *    the scan NON-SPLITTABLE (one task per file — univocity must see
  *    the whole file to pair quotes). That is the honest cost of
  *    newline-bearing CSV at 100 TB; production either strips newlines
  *    at write time or ingests many medium files so per-file
  *    parallelism substitutes for split parallelism. The query keeps
  *    the embedded-newline form because certifying it is the point.
  *  - JSON Lines escapes the newline as `\n` INSIDE the value, so the
  *    file stays one-record-per-line and the scan stays splittable —
  *    which is exactly why JSONL, not CSV, is the default interchange
  *    format for web-scale text corpora.
  * Both reads pass an EXPLICIT schema: at scale you never pay (or
  * trust) an inference pass over 100 TB, and fixing the schema makes
  * type fidelity part of the certificate instead of inference luck.
  * Both scans still prune to the referenced columns (CSV/JSON readers
  * parse selected fields only); PlanShapeSpec pins the pruned
  * ReadSchema. */
object CsvJsonSource {

  /** The hard-to-serialize column: `q"<doc_id>,x\n\<lang>` — quote,
    * comma, newline, backslash, all in one value. */
  private def tricky = concat(lit("q\""), col("doc_id").cast(StringType),
    lit(",x\n\\"), col("lang"))

  private val readSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("tricky", StringType)))

  /** Documents (+ tricky) staged as `fmt` ([[StagedCopy]]). */
  private def stagedDir(spark: SparkSession, dir: String, fmt: String): String =
    StagedCopy.path(spark, dir, fmt) { (docs, out) =>
      val staged = docs.withColumn("tricky", tricky)
      fmt match {
        case "csv" => staged.write.mode("overwrite")
          .option("header", "true").csv(out)
        case "json" => staged.write.mode("overwrite").json(out)
        case "textgz" => docs
          .select(concat_ws("\t",
            col("doc_id"), col("lang"), col("text")).as("value"))
          .write.mode("overwrite").option("compression", "gzip").text(out)
        case "jsondirty" => docs
          .select(when(col("doc_id") % 10 === 7,
            // truncate every 10th record mid-object: structurally
            // invalid JSON, deterministic from doc_id
            expr("substring(to_json(struct(doc_id, lang, text)), 1, 9)"))
            .otherwise(to_json(struct(col("doc_id"), col("lang"), col("text"))))
            .as("value"))
          .write.mode("overwrite").text(out)
      }
    }

  /** The md5-60 fold mod 1e9+7, so a whole-corpus SUM stays in range. */
  private def fp1e9(c: Column): Column =
    WordCount.fp60(c.cast("binary")) % 1000000007L

  /** Per-lang fidelity aggregate over a parsed-back copy: row count,
    * text char total, and 60-bit-md5 fingerprint sums of both the text
    * and the tricky column (mod 1e9+7 so a whole-corpus SUM stays in
    * long range). The oracle recomputes all four from the original
    * parquet, predicting `tricky` from doc_id/lang. */
  private def fidelityAgg(copy: DataFrame): DataFrame = {
    copy.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        sum(fp1e9(col("text"))).as("text_fp"),
        sum(fp1e9(col("tricky"))).as("tricky_fp"))
  }

  def csvRoundtripAgg(spark: SparkSession, dir: String): DataFrame =
    fidelityAgg(spark.read.schema(readSchema)
      .option("header", "true")
      // multiLine pairs the quotes around the embedded newline;
      // escape matches the writer's default (backslash)
      .option("multiLine", "true")
      .csv(stagedDir(spark, dir, "csv")))

  def jsonRoundtripAgg(spark: SparkSession, dir: String): DataFrame =
    fidelityAgg(spark.read.schema(readSchema)
      .json(stagedDir(spark, dir, "json")))

  /** Gzip-compressed TSV text round-trip — the compressed-ingest
    * certificate: lines written `doc_id\tlang\ttext` with gzip codec,
    * transparently decompressed by the text source on read, parsed
    * with a limit-3 split (the text itself is tab/newline-free by
    * fixture contract — TSV without escaping is only honest under
    * that precondition, which the CSV/JSON queries cover the negation
    * of). Scale note: gzip is a NON-SPLITTABLE codec — one task per
    * file, like multiLine CSV; at 100 TB compressed text arrives as
    * many medium files (per-file parallelism) or re-codes to
    * zstd/bzip2-style splittable storage on first touch. The oracle
    * reads the original parquet. */
  def gzipTextRoundtripAgg(spark: SparkSession, dir: String): DataFrame = {
    val parsed = spark.read.text(stagedDir(spark, dir, "textgz"))
      .select(split(col("value"), "\t", 3).as("p"))
      .select(col("p")(0).cast(LongType).as("doc_id"),
        col("p")(1).as("lang"), col("p")(2).as("text"))
    parsed.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        sum(fp1e9(col("text"))).as("text_fp"))
  }

  /** Dirty-ingest certificate — 100 TB feeds ALWAYS carry malformed
    * records, and silently dropping them is the classic ingest bug.
    * Every 10th record is truncated mid-object at the stage; the read
    * runs PERMISSIVE with a corrupt-record column (the production
    * posture: quarantine, don't crash, don't drop), and the audit
    * counts both populations and checksums the survivors. The oracle
    * predicts all four numbers from the doc_id rule — a reader that
    * drops corrupt rows, or one that mangles a valid neighbor,
    * mismatches. Per-lang so a parser bias against any subset shows. */
  def jsonCorruptAudit(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(stagedDir(spark, dir, "jsondirty"))
      .groupBy(coalesce(col("lang"), lit("_corrupt")).as("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(coalesce(col("doc_id"), lit(0L))).as("sum_ids"),
        sum(coalesce(length(col("text")), lit(0L))).as("sum_chars"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "csv_roundtrip_agg" -> (csvRoundtripAgg _),
    "json_roundtrip_agg" -> (jsonRoundtripAgg _),
    "gzip_text_roundtrip_agg" -> (gzipTextRoundtripAgg _),
    "json_corrupt_audit" -> (jsonCorruptAudit _))

  /** Oracle never sees the staged copy — original parquet only, with
    * `tricky` rebuilt inline from doc_id/lang. */
  private val fidelitySql =
    """SELECT lang, count(*) AS n_docs,
      |       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
      |       CAST(SUM(CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
      |                % 1000000007) AS BIGINT) AS text_fp,
      |       CAST(SUM(CAST(('0x' || substring(md5('q"' || CAST(doc_id AS VARCHAR)
      |                || ',x' || chr(10) || '\' || lang), 1, 15)) AS BIGINT)
      |                % 1000000007) AS BIGINT) AS tricky_fp
      |FROM documents
      |GROUP BY lang""".stripMargin

  val oracles: Map[String, String] = Map(
    "csv_roundtrip_agg" -> fidelitySql,
    "json_roundtrip_agg" -> fidelitySql,
    "gzip_text_roundtrip_agg" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(SUM(CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
        |                % 1000000007) AS BIGINT) AS text_fp
        |FROM documents
        |GROUP BY lang""".stripMargin,
    // valid rows keep their lang; corrupted ones (every doc_id % 10 = 7,
    // truncated mid-object at the stage) parse to all-null fields and
    // land in the '_corrupt' quarantine group
    "json_corrupt_audit" ->
      """SELECT lang, count(*) AS n_rows, 0::BIGINT AS n_corrupt,
        |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |       CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 10 <> 7 GROUP BY lang
        |UNION ALL
        |SELECT '_corrupt' AS lang, count(*) AS n_rows,
        |       count(*) AS n_corrupt, 0::BIGINT AS sum_ids,
        |       0::BIGINT AS sum_chars
        |FROM documents WHERE doc_id % 10 = 7""".stripMargin)
}
