package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{IndexStore, Tables}

/** Avro source/sink round-trip — the mainstream ROW-oriented ingest
  * format beside the columnar parquet/ORC pair (Kafka pipelines and
  * CDC feeds overwhelmingly land as Avro container files). The
  * declared query writes the documents table to `.avro` container
  * files once per corpus (content-keyed [[IndexStore]] directory,
  * `_SUCCESS` gated like the ORC twin), reads them BACK, and
  * aggregates — while the ORACLE reads the ORIGINAL parquet: any field
  * loss, string mangling, or id drift across the Avro write/read cycle
  * mismatches the hash.
  *
  * This sandbox has the public Apache Avro core + `avro-mapred` jars
  * but not the `spark-avro` DataFrame connector module, so the
  * container I/O goes through the public Hadoop
  * `AvroKeyOutputFormat`/`AvroKeyInputFormat` pair — the documented
  * RDD escape hatch for a source Spark's DataFrame reader can't reach
  * in-sandbox. In production this whole file is the one-line
  * `spark.read.format("avro")` / `df.write.format("avro")` swap (the
  * spark-avro module is a public Apache Spark submodule); the QUERY
  * shape — write once, read back, audit-aggregate against the source
  * of truth — is exactly how a 100 TB format migration is certified,
  * and the aggregate itself stays DataFrame algebra with map-side
  * partial aggregation. Records are materialized only inside
  * `mapPartitions` on executors; nothing row-shaped touches the
  * driver. */
object AvroSource {

  /** Writer/reader schema (field subset with stable primitive types —
    * avro strings read back as `Utf8`, converted executor-side). */
  private val SchemaJson =
    """{"type":"record","name":"Document","namespace":"graft","fields":[
      |  {"name":"doc_id","type":"long"},
      |  {"name":"lang","type":"string"},
      |  {"name":"source","type":"string"},
      |  {"name":"text","type":"string"}
      |]}""".stripMargin

  /** The documents table staged as Avro container files (an
    * [[IndexStore]] layout). */
  def avroDir(spark: SparkSession, dir: String): String =
    IndexStore.getOrBuildLayout(spark, dir, "documents", "avro") { out =>
      val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
      AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(SchemaJson))
      Tables.load(spark, dir, "documents")
        .select("doc_id", "lang", "source", "text")
        .rdd
        .mapPartitions { it =>
          // Schema is parsed per partition: cheaper than shipping a
          // parsed Schema through the closure and immune to its
          // serialization quirks across avro versions
          val schema = new Schema.Parser().parse(SchemaJson)
          it.map { row =>
            val r = new GenericData.Record(schema)
            r.put("doc_id", row.getLong(0))
            r.put("lang", row.getString(1))
            r.put("source", row.getString(2))
            r.put("text", row.getString(3))
            (new AvroKey[GenericRecord](r), NullWritable.get())
          }
        }
        .saveAsNewAPIHadoopFile(
          out.getAbsolutePath,
          classOf[AvroKey[GenericRecord]], classOf[NullWritable],
          classOf[AvroKeyOutputFormat[GenericRecord]],
          job.getConfiguration)
    }.getAbsolutePath

  /** Per-(lang, source) doc count, char total, and id checksum,
    * computed FROM THE AVRO COPY; the oracle computes the same from
    * the original parquet. Char counts use codepoints
    * (`codePointCount`), matching Spark's `length` and DuckDB's
    * `length` rather than Java's UTF-16 unit count. */
  def avroRoundtripAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("avro.schema.input.key", SchemaJson)
    spark.sparkContext.newAPIHadoopFile(
        avroDir(spark, dir),
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable], conf)
      .mapPartitions(_.map { case (k, _) =>
        // the reader REUSES the record instance between rows — copy
        // the primitives out before the iterator advances
        val r = k.datum()
        val text = r.get("text").toString
        (r.get("doc_id").asInstanceOf[Long],
          r.get("lang").toString, r.get("source").toString,
          text.codePointCount(0, text.length).toLong)
      })
      .toDF("doc_id", "lang", "source", "text_chars")
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("text_chars").as("sum_chars"),
        sum("doc_id").as("sum_ids"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "avro_roundtrip_agg" -> (avroRoundtripAgg _))

  val oracles: Map[String, String] = Map(
    // the oracle never sees the Avro copy — original parquet only
    "avro_roundtrip_agg" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |GROUP BY lang, source""".stripMargin)
}
