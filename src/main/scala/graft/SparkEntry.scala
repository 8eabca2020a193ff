package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every module's declared queries (name → DataFrame builder
  * over a scale-factor directory) and their DuckDB oracle SQL. A query
  * appears in `oracleSql` only when its result is deterministically
  * hash-comparable across Spark and DuckDB (see module Scaladocs for the
  * determinism measures: DECIMAL sums, explicit rounding, md5-based
  * hashing shared by both engines).
  */
object SparkEntry {

  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    ("wordcount", operators.WordCount.queries, operators.WordCount.oracles),
    ("relational", operators.Relational.queries, operators.Relational.oracles),
    ("partitioning", operators.Partitioning.queries, operators.Partitioning.oracles),
    ("scalars", operators.Scalars.queries, operators.Scalars.oracles),
    ("sql", operators.SqlSurface.queries, operators.SqlSurface.oracles),
    ("temporal", operators.TemporalJoins.queries, operators.TemporalJoins.oracles),
    ("behavioral", operators.Behavioral.queries, operators.Behavioral.oracles),
    ("skew", operators.Skew.queries, operators.Skew.oracles),
    ("bucketed", operators.Bucketed.queries, operators.Bucketed.oracles),
    ("merge", operators.MergeUpsert.queries, operators.MergeUpsert.oracles),
    ("pagerank", operators.PageRank.queries, operators.PageRank.oracles),
    ("zorder", operators.ZOrder.queries, operators.ZOrder.oracles),
    ("topk", plans.TopKPerKey.queries, plans.TopKPerKey.oracles),
    ("sources", sources.OrcSource.queries, sources.OrcSource.oracles),
    ("sources", sources.AvroSource.queries, sources.AvroSource.oracles),
    ("sources", sources.CsvJsonSource.queries, sources.CsvJsonSource.oracles),
    ("sources", sources.PartitionedParquetSource.queries, sources.PartitionedParquetSource.oracles),
    ("text", text.TextAnalysis.queries, text.TextAnalysis.oracles),
    ("corpus", text.CorpusOps.queries, text.CorpusOps.oracles),
    ("dedup", dedup.Dedup.queries, dedup.Dedup.oracles),
    ("indexed", dedup.BandIndex.queries, dedup.BandIndex.oracles),
    ("ingest", streaming.IngestDedup.queries, streaming.IngestDedup.oracles),
    ("ann", similarity.Similarity.queries, similarity.Similarity.oracles),
    ("multimodal", multimodal.Multimodal.queries, multimodal.Multimodal.oracles))

  /** Query name → declared module family — the grouping the bench uses
    * for its per-family subtotals: session memos make per-query medians
    * inside a memo-sharing family "warm" numbers, so only family
    * subtotals are attributable from one board to the next. */
  def families: Map[String, String] =
    modules.iterator.flatMap { case (fam, qs, _) => qs.keys.map(_ -> fam) }.toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.WordCount.total(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._2).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._3).reduce(_ ++ _)
}
