package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IndexStore, Tables}

/** Hive-style partitioned parquet — the single biggest scan lever at
  * 100 TB: data laid out as `lang=<v>/part-*.parquet` lets a
  * `WHERE lang = 'en'` query SKIP every other partition's files at
  * planning time (directory listing, no file opened), which is the
  * difference between scanning 100 TB and scanning one language's
  * share. The layout-selective column should be the one queries filter
  * by; cardinality must stay modest (dirs, not millions of tiny
  * partitions — the small-files problem is the failure mode).
  *
  * SourcesSpec has asserted pruning since round 2; this makes it a
  * DECLARED ORACLED query on the [[OrcSource]] pattern: write once per
  * corpus fingerprint, read back through the partitioned layout with a
  * partition filter, aggregate; the oracle filters the ORIGINAL flat
  * parquet — so both the pruning path's correctness AND the
  * partition-column round-trip (values → directory names → restored
  * column) are hash-verified. PlanShapeSpec pins that the filter lands
  * in `PartitionFilters` (planning-time) rather than as a data filter.
  */
object PartitionedParquetSource {

  /** The documents table staged partitioned by `lang` (an
    * [[IndexStore]] layout). */
  def partitionedDir(spark: SparkSession, dir: String): String =
    IndexStore.getOrBuildLayout(spark, dir, "documents", "partpq") { out =>
      Tables.load(spark, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(out.getAbsolutePath)
    }.getAbsolutePath

  /** Per-source census of ONE language, read through the partitioned
    * layout — the partition filter prunes every other lang directory
    * at planning time. */
  def partitionPruneAgg(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(partitionedDir(spark, dir))
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"))

  /** DYNAMIC partition pruning — the runtime sibling of
    * [[partitionPruneAgg]]'s static prune, on the incremental-refresh
    * shape: a small change batch (docs 0–4, the synthesize-from-base
    * idiom) decides WHICH partitions of the corpus need reprocessing —
    * its distinct langs are a proper data-dependent subset, so no
    * literal partition filter exists at plan time. Catalyst injects a
    * `dynamicpruningexpression` subquery into the fact scan's
    * PartitionFilters, reusing the batch's broadcast — at 100 TB this
    * is how "recompute only the partitions today's batch touched"
    * skips every untouched directory without the user hand-propagating
    * the filter (PlanShapeSpec pins the injected expression; the
    * batch-side filter must be a literal comparison — Catalyst's
    * selectivity heuristic ignores aggregate-derived dims). Oracle
    * replays the batch selection and join on the original flat
    * parquet. */
  def dppJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") < 5)
      .select("lang").distinct()
    spark.read.parquet(partitionedDir(spark, dir))
      .join(broadcast(dim), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "partition_prune_agg" -> (partitionPruneAgg _),
    "dpp_join_agg" -> (dppJoinAgg _))

  val oracles: Map[String, String] = Map(
    // oracle reads the ORIGINAL flat parquet with a plain filter
    "partition_prune_agg" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE lang = 'en'
        |GROUP BY source""".stripMargin,
    "dpp_join_agg" ->
      """WITH d AS (SELECT DISTINCT lang FROM documents WHERE doc_id < 5)
        |SELECT doc.lang, count(*) AS n_docs,
        |       CAST(SUM(length(doc.text)) AS BIGINT) AS sum_chars
        |FROM documents doc JOIN d ON d.lang = doc.lang
        |GROUP BY doc.lang""".stripMargin)
}
