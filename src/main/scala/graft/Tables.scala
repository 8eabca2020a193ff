package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table registry over the driver-generated parquet test tables
  * (`TESTDATA.md`): one parquet file per table under `$dir/`.
  *
  * This replaces the reference's only source — a directory of local TSV
  * text files scanned line-by-line
  * (`src/edu/upenn/cis455/mapreduce/worker/WorkerServlet.java:510-530`) —
  * with columnar parquet scans so Catalyst can push filters and prune
  * columns at the source. The legacy TSV format itself is supported via
  * [[graft.legacy.TsvDataset]].
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-memoized load PLAN (measured: `spark.read.parquet` costs 150–300 ms per call in
    * datasource resolution (file listing, footer/schema read, and for
    * kernel tables the [[balance]] stats pass), all driver-side, and
    * the query surface calls [[load]] 2–7 times per query build. The
    * memo returns the SAME lazy DataFrame — nothing is persisted or
    * precomputed; every action still scans the parquet — it only stops
    * re-resolving immutable file metadata per invocation (the §6
    * file-listing-cache move, applied at the API boundary). Safe
    * because a (dir, name) pair is immutable for a session's lifetime
    * everywhere this engine reads: the driver's testdata is read-only
    * and test fixtures use fresh temp dirs per suite. A session that
    * regenerates a path it already loaded calls
    * [[SessionCaches.release]]. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionCaches.memo(spark, "tables.load", (dir, name)) {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      val norm = if (name == "events") normalizeEventTs(df) else df
      if (KernelTables(name)) balance(spark, norm) else norm
    }

  /** Row count of `$dir/$table.parquet`, memoized per session. Reads
    * the parquet directly (not [[load]]) so the count is a pure
    * metadata job: the kernel-table [[balance]] guard would otherwise
    * put a repartition shuffle under a row count. */
  def rowCount(spark: SparkSession, dir: String, table: String): Long =
    SessionCaches.memo(spark, "tables.rowCount", (dir, table)) {
      spark.read.parquet(s"$dir/$table.parquet").count()
    }

  /** Tables whose consumers are CPU-bound per-row kernels (shingling,
    * minhash, BPE, PII scrub, dot products) rather than
    * pushdown-friendly relational scans. For these, scan parallelism IS
    * the stage parallelism until the first shuffle, so a badly-chunked
    * input (one parquet row group — a single task no matter the cluster
    * size) serializes the whole kernel. Relational tables are excluded:
    * a blanket repartition there would add a shuffle ahead of scans
    * whose filters/pruning Catalyst already pushes down. */
  private val KernelTables = Set("documents", "embeddings")

  /** Floor below which rebalancing is skipped: a corpus this small
    * finishes faster on one core than it takes to round-trip a shuffle
    * (the sf0.001/sf0.01 oracle boards stay shuffle-free). Round-17
    * measured a 256 KB floor (which rebalances the sf0.1 kernel
    * tables) and REJECTED it: minhash_neardup warm moved ≤ 0.3 s, the
    * fold build not at all, and the embeddings rebalance added an
    * exchange plus ~2.5× the task count to every ANN query for zero
    * gain — at sf0.1 the kernels are orchestration-bound, not
    * scan-parallelism-bound. */
  private val BalanceMinBytes = 4L << 20

  /** Guarded parallelism rescue for kernel tables: if the parquet scan
    * would yield fewer than half the available slots (file layout, not
    * data size, decides this — splits cannot cross row-group
    * boundaries), hash-repartition on the first column (the table key)
    * to `defaultParallelism`. Deterministic (hash, not round-robin), so
    * per-partition aggregation order — and with it every oracle hash —
    * is stable run-to-run. On a production corpus (many files, many row
    * groups) the guard never fires and load stays zero-shuffle; it
    * exists for the 100 TB reality that input layout is often not under
    * the engine's control. */
  private def balance(spark: SparkSession, df: DataFrame): DataFrame = {
    val slots = spark.sparkContext.defaultParallelism
    val scanParts = df.rdd.getNumPartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (scanParts < slots / 2 && bytes > BalanceMinBytes)
      df.repartition(slots, col(df.columns.head))
    else df
  }

  /** Engine contract: `events.ts` is epoch NANOS as LONG. The driver's
    * generator has emitted the column both as parquet TIMESTAMP(NANOS)
    * (which `spark.sql.legacy.parquet.nanosAsLong` already surfaces as
    * that long) and as timestamp[us] (a real TimestampType/NTZ column),
    * so normalize at the load boundary instead of per query. The DuckDB
    * oracles are precision-agnostic (`epoch_us(ts)` reads either file).
    * Session time zone is pinned UTC, so the NTZ→TZ cast is the
    * identity on the underlying instant.
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
}
