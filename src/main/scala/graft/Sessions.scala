package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for this engine — the settings every
  * entry point (Verify, Bench, tests, user applications) needs:
  *
  *  - `shuffle.partitions` sized to the parallelism actually available
  *    (not the 200 default; on a real cluster: 2-3× total executor
  *    cores, or leave AQE coalescing to shrink it);
  *  - AQE on (runtime re-planning: partition coalescing, skew-join
  *    splitting, broadcast demotion) — default in Spark 4, pinned
  *    explicitly because the engine's scale story leans on it;
  *  - UTC session time zone (oracle comparisons and any date math);
  *  - nanosecond parquet timestamps read as longs (`events.ts` is
  *    TIMESTAMP(NANOS), which Spark's µs TimestampType rejects);
  *  - [[GraftExtensions]] so engine functions work from plain SQL;
  *  - the `file` scheme through [[ForkFreeLocalFileSystem]] and, for
  *    `FileContext` (streaming checkpoints), [[ForkFreeLocalFs]]:
  *    without the native Hadoop library the stock local filesystem forks
  *    one `chmod` per file and directory it creates and one `readlink`
  *    per checkpoint rename, about a fifth of an ingest stream's time.
  *    Same permissions, same `.crc` files, no forks.
  */
object Sessions {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      .withExtensions(new GraftExtensions())

  /** local[n] convenience used by the driver mains. */
  def local(cores: Int): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()
}
