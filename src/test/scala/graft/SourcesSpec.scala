package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage beyond the legacy TSV adapter: CSV, JSON, and
  * parquet round-trips through DataFrameReader/Writer (the reference
  * reads only local text dirs — SURVEY.md §2c "Scans/sources"). */
class SourcesSpec extends AnyFunSuite with SharedSpark {

  private def sample = {
    import spark.implicits._
    Seq((1L, "alpha", 1.5), (2L, "beta", -2.0), (3L, "gamma, delta", 0.0))
      .toDF("id", "name", "score")
  }

  test("csv round-trip with header and quoting") {
    import spark.implicits._
    val dir = Files.createTempDirectory("csv").toString
    sample.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
    assert(back.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      sample.as[(Long, String, Double)].collect().sortBy(_._1).toSeq)
  }

  test("json lines round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("json").toString
    sample.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir).select("id", "name", "score")
    assert(back.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      sample.as[(Long, String, Double)].collect().sortBy(_._1).toSeq)
  }

  test("malformed CSV rows are dropped (DROPMALFORMED), not silently nulled") {
    import spark.implicits._
    val dir = Files.createTempDirectory("badcsv")
    Files.write(dir.resolve("part.csv"), java.util.Arrays.asList(
      "1,alpha,1.5",
      "not-a-long,beta,2.0", // malformed id
      "3,gamma", // short row
      "4,delta,0.25"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val rows = spark.read.schema(schema).option("mode", "DROPMALFORMED")
      .csv(dir.toString).as[(Long, String, Double)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "alpha", 1.5), (4L, "delta", 0.25)))
    // PERMISSIVE keeps every row and flags the broken ones instead —
    // the audit-what-you-dropped posture for a 100 TB ingest
    val withCorrupt = spark.read
      .schema(schema.add(StructField("_corrupt_record", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir.toString).cache()
    assert(withCorrupt.count() == 4)
    assert(withCorrupt.filter($"_corrupt_record".isNotNull).count() == 2)
    withCorrupt.unpersist()
  }

  test("writer bounds output file sizes via maxRecordsPerFile (small-files control)") {
    val dir = Files.createTempDirectory("sized").toString
    // one task would otherwise emit one big file; the cap splits it so
    // downstream scans parallelize — the other half of the small-files
    // problem (coalesce merges too-many, maxRecordsPerFile splits
    // too-few)
    Tables.load(spark, sfDir, "orders")
      .coalesce(1)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100)
      .parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    val n = Tables.load(spark, sfDir, "orders").count()
    val expected = Math.ceil(n / 100.0).toLong
    assert(files.length == expected,
      s"$n rows at 100/file should give $expected files, got ${files.length}")
    assert(spark.read.parquet(dir).count() == n)
  }

  test("avro container round-trip preserves every field bit-for-bit") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents")
    val back = spark.read.parquet(sfDir + "/documents.parquet") // schema ref
    assert(back.columns.contains("text")) // fixture sanity
    val dir = sources.AvroSource.avroDir(spark, sfDir)
    assert(new java.io.File(dir, "_SUCCESS").exists(), "avro write must commit")
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".avro")),
      "expected .avro container files")
    // memoized: second call returns the same dir without rewriting
    assert(sources.AvroSource.avroDir(spark, sfDir) == dir)
    // full-fidelity check on the strongest column: text survives the
    // row-format cycle exactly (crc + count equality via the agg query)
    val got = sources.AvroSource.avroRoundtripAgg(spark, sfDir)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val want = docs.groupBy("lang", "source")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length($"text")),
        org.apache.spark.sql.functions.sum($"doc_id"))
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got == want)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("pq").toString
    Tables.load(spark, sfDir, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val one = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition pruning in:\n$plan")
    assert(one.count() ==
      Tables.load(spark, sfDir, "events")
        .filter(org.apache.spark.sql.functions.col("event_type") === "click").count())
  }

  test("staged copies re-key on a change to any column, not only text") {
    import org.apache.spark.sql.{Row, SparkSession}
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_stale").toString
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
    val rows = java.util.Arrays.asList(src.filter(col("doc_id") < 40).collect(): _*)
    def writeDocs(relang: Column => Column): Unit =
      spark.createDataFrame(rows, src.schema)
        .withColumn("lang", relang(col("lang")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def staged(s: SparkSession) = Seq(
      sources.OrcSource.orcRoundtripAgg(s, dir),
      sources.CsvJsonSource.csvRoundtripAgg(s, dir).select("lang", "n_docs", "sum_chars"))
    def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map((r: Row) => r.toSeq).toSet
    writeDocs(identity)
    staged(spark).foreach(_.collect())
    // same doc_ids and texts, only the langs change
    writeDocs(l => concat(l, lit("_x")))
    val fresh = spark.newSession()
    val want = rowSet(fresh.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("sum_chars")))
    assert(want.forall(_.head.toString.endsWith("_x")))
    for (q <- staged(fresh)) assert(rowSet(q) == want)
  }
}
