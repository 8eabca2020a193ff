package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IndexStore, Tables}

/** ORC source/sink round-trip — the second columnar format beside
  * parquet (built into Spark; vectorized reader, predicate pushdown,
  * column pruning all apply just like parquet). The declared query
  * writes the documents table to ORC once per corpus (executor-side
  * `df.write.orc` into a content-keyed [[IndexStore]] directory —
  * regenerated fixtures get a fresh dir), reads it BACK
  * through `spark.read.orc`, and aggregates — while the ORACLE reads
  * the ORIGINAL parquet: any loss, truncation, or type drift in the
  * ORC write/read cycle mismatches the hash. PlanShapeSpec pins that
  * the ORC scan prunes to the two referenced columns.
  *
  * At 100 TB the same query is how you'd certify a format migration:
  * run the audit aggregate over both copies and compare — here the
  * compare is the driver's oracle harness itself. */
object OrcSource {

  /** The documents table staged as ORC (an [[IndexStore]] layout). */
  def orcDir(spark: SparkSession, dir: String): String =
    IndexStore.getOrBuildLayout(spark, dir, "documents", "orc") { out =>
      Tables.load(spark, dir, "documents").write.mode("overwrite").orc(out.getAbsolutePath)
    }.getAbsolutePath

  /** Per-lang doc count + total text chars, computed FROM THE ORC COPY;
    * the oracle computes the same from the original parquet. */
  def orcRoundtripAgg(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(orcDir(spark, dir))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orc_roundtrip_agg" -> (orcRoundtripAgg _))

  val oracles: Map[String, String] = Map(
    // the oracle never sees the ORC copy — original parquet only
    "orc_roundtrip_agg" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY lang""".stripMargin)
}
