package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{SessionCaches, Tables}

/** Bucketed CO-LOCATED fact-fact join — the shuffle-elimination
  * mitigation for the one join class broadcast can't save: both sides
  * big (orders ⋈ lineitem at 100 TB is fact-vs-fact; neither fits in
  * memory). Writing both tables `bucketBy(k, join_key).sortBy` means
  * every future join/aggregate on that key reads co-partitioned,
  * pre-sorted buckets: the SortMergeJoin needs NO exchange and NO
  * sort, and a following groupBy on the same key reuses the bucketing
  * too — the whole query plans with ZERO hash exchanges (pinned by
  * PlanShapeSpec). This is the declared-query counterpart of the
  * SurfaceSpec bucketing test, with the same contract as
  * `skew_salted_sum`: the MITIGATION MUST BE INVISIBLE — the oracle is
  * the plain orders⋈lineitem SQL over the raw parquet, so a bucketing
  * bug (wrong key, dropped rows, stale buckets) hash-mismatches.
  *
  * The bucketed tables are materialized once per (session, corpus)
  * into the warehouse, keyed by a corpus fingerprint (row count +
  * crc32 sum — same staleness defense as the binaryFile staging dir:
  * regenerated fixture data gets fresh buckets, never stale files).
  * In production this write IS the ingest step — you pay one shuffle
  * at load time and never again on the join key; at 100 TB the bucket
  * count scales with data (thousands, not 32) and the same query text
  * runs unchanged.
  *
  * The `merge` hint keeps the demonstration honest at test scale:
  * without it Catalyst would broadcast the small-SF lineitem side and
  * the co-location would never be exercised — at real scale SMJ is
  * what the planner picks on its own.
  */
object Bucketed {

  val NumBuckets = 32

  /** Ensure bucketed twins of orders/lineitem exist for `dir`; returns
    * the database name. Memoized per (session, corpus). NOTE on fresh
    * sessions: the in-memory catalog dies with the session, so
    * `tableExists` is false on a new session even when the warehouse
    * files survive — the buckets are then deleted and REWRITTEN (the
    * orphaned location would otherwise fail the CREATE). Within one
    * session the memo prevents any re-write; cross-session reuse would
    * need a persistent (Hive) metastore, which this sandbox lacks.
    *
    * The staleness fingerprint covers BOTH tables and every projected
    * column: an orders-only key would let a regenerated lineitem — or
    * a changed o_totalprice with keys and count unchanged — silently
    * reuse stale buckets. */
  def ensureBucketed(spark: SparkSession, dir: String): String =
    SessionCaches.memo(spark, "bucketed.db", dir) {
      import spark.implicits._
      def fingerprint(table: String, cols: Seq[String]): (Long, Long) =
        Tables.load(spark, dir, table)
          .agg(count(lit(1)),
            // concat_ws SKIPS nulls — ('a',NULL,'c') and ('a','c',NULL)
            // would serialize identically, so a value moving between
            // columns could reuse stale buckets; a NULL sentinel keeps
            // placement in the fingerprint
            sum(crc32(concat_ws("|", cols.map(c =>
              coalesce(col(c).cast("string"), lit("\u0000NULL"))): _*))))
          .as[(Long, Long)].head()
      val (no, fpo) = fingerprint("orders",
        Seq("o_orderkey", "o_custkey", "o_totalprice"))
      val (nl, fpl) = fingerprint("lineitem",
        Seq("l_orderkey", "l_quantity", "l_extendedprice"))
      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      val db = s"graft_bucketed_${key}_${no}_${fpo}_${nl}_$fpl"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      // the in-memory catalog dies with the session but managed-table
      // FILES persist in the warehouse; CREATE refuses to reuse an
      // existing location, so clear any orphaned files before writing
      // (same fingerprint = same data — nothing of value is lost)
      def writeBucketed(table: String, build: => DataFrame,
                        bucketCol: String): Unit =
        if (!spark.catalog.tableExists(s"$db.$table")) {
          val loc = new org.apache.hadoop.fs.Path(
            spark.catalog.getDatabase(db).locationUri, table)
          val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(loc)) fs.delete(loc, true)
          build.write.mode("overwrite")
            .bucketBy(NumBuckets, bucketCol).sortBy(bucketCol)
            .saveAsTable(s"$db.$table")
        }
      writeBucketed("orders_b",
        Tables.load(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice"), "o_orderkey")
      writeBucketed("lineitem_b",
        Tables.load(spark, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice"), "l_orderkey")
      db
    }

  /** Per-order item rollup over the bucketed twins: join + aggregate,
    * both on the bucket key, zero exchanges end to end. */
  def bucketedJoinRollup(spark: SparkSession, dir: String): DataFrame = {
    val db = ensureBucketed(spark, dir)
    val o = spark.table(s"$db.orders_b")
    val l = spark.table(s"$db.lineitem_b")
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bucketed_join_rollup" -> (bucketedJoinRollup _))

  val oracles: Map[String, String] = Map(
    // the oracle knows nothing of buckets: plain join over raw parquet
    "bucketed_join_rollup" ->
      """SELECT o_orderkey,
        |       count(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey""".stripMargin)
}
