package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.CorpusOps

/** The `quality_drift_psi` check riding the ingest stream — drift
  * monitoring where production actually runs it: every micro-batch of
  * incoming documents is scored against a STATIC reference corpus's
  * decile bins, and the batch's full PSI table (one row per (feature,
  * bin), each carrying the feature's PSI) is appended to a monitor
  * sink under the batch's id. Alerting is then a filter on the sink
  * (`psi > 0.25`), and the sink doubles as the drift history the
  * post-mortem reads.
  *
  * Exactly-once the [[IngestDedup]] way: each batch overwrites its own
  * `batch=<id>` partition, so a torn-commit replay rewrites the same
  * rows instead of appending beside them.
  *
  * Scale: the reference contributes ONE tiny decile aggregate (two
  * rows — broadcast), the batch side is a narrow bin-count pass over
  * the batch only, and the PSI table is 20 rows per batch. Nothing
  * here ever re-reads the corpus; at 100 TB the reference edges would
  * be computed once at reference-refresh time and handed in as a
  * literal frame — the shape, not the math, changes.
  *
  * StreamingSpec pins stream == batch: every sink partition equals
  * [[CorpusOps.psiBetween]] run in batch mode over the same slice.
  */
object DriftMonitor {

  def start(spark: SparkSession, refDocs: DataFrame, docsStream: DataFrame,
            sinkPath: String, checkpoint: String): StreamingQuery = {
    val refFeats = CorpusOps.qualityFeats(refDocs)
    docsStream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (psi, state) = CorpusOps.psiWithCheckpoints(spark, refFeats, CorpusOps.qualityFeats(batch))
        try psi.write.mode("overwrite").parquet(s"$sinkPath/batch=$id")
        finally state.foreach(graft.SessionCaches.free)
      }
      .start()
  }
}
