package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bucketed

/** Stored state outlives the session: a session that starts where a
  * new SparkContext would (no memos, no `graft` catalog entries) reads
  * every published store back, writing nothing and rebuilding nothing,
  * and a changed source table re-keys its stored copy. */
class RestartSpec extends AnyFunSuite with SharedSpark {

  /** One query per stored kind. */
  private val stored = Seq(
    "bucketed_join_rollup",        // bucketed twins
    "minhash_incremental_indexed", // band index
    "neardup_clusters_indexed",    // CC labels
    "embedding_pq_codes_indexed",  // PQ codebooks and codes
    "orc_roundtrip_agg")           // a staged copy

  private def rows(s: SparkSession, q: String, dir: String): Set[Row] =
    SparkEntry.queries(q)(s, dir).collect().toSet

  /** Every file under the bucketed twins of `dir`, with its size and
    * modification time. */
  private def twinFiles(dir: String): Map[String, (Long, Long)] = {
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    Option(IndexStore.root.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(d => d.getName.startsWith("bucketed_") && d.getName.contains(s"_${key}_") &&
        !d.getName.contains(".tmp-"))
      .flatMap(walk).map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  /** The `graft_*` entries under the session warehouse, with their
    * modification times (earlier runs may have left some). */
  private def warehouseEntries(): Map[String, Long] = {
    val wh = new File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/"))
    Option(wh.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_")).map(f => f.getName -> f.lastModified()).toMap
  }

  /** What a new SparkContext starts without: `s`'s memos and the
    * catalog entries the engine registered. */
  private def forget(s: SparkSession): Unit = {
    SessionCaches.release(s)
    s.catalog.listDatabases().collect().map(_.name).filter(_.startsWith("graft_"))
      .foreach(db => s.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    s.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_"))
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** Runs `body` and returns how many Spark jobs it ran on behalf of a
    * file write. */
  private def writeJobs(body: => Unit): Int = {
    val writing = ConcurrentHashMap.newKeySet[String]()
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if "InsertIntoHadoopFsRelation|CreateDataSourceTableAsSelect|WriteFiles".r
              .findFirstIn(s.physicalPlanDescription).isDefined =>
          writing.add(s.executionId.toString); ()
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).exists(writing.contains)) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.graft.ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  test("a restarted session reads every stored kind back: no build, no write, " +
    "same rows, zero-exchange bucketed join") {
    val warehouse = warehouseEntries()
    val first = spark.newSession()
    val before = stored.map(q => q -> rows(first, q, sfDir)).toMap
    val twins = twinFiles(sfDir)
    assert(twins.nonEmpty, s"no bucketed twin under ${IndexStore.root}")
    forget(first)

    val restarted = spark.newSession()
    val builds = IndexStore.builds.get()
    var after = Map.empty[String, Set[Row]]
    val writes = writeJobs {
      after = stored.map(q => q -> rows(restarted, q, sfDir)).toMap
    }
    assert(IndexStore.builds.get() == builds, "a restarted session rebuilt a store")
    assert(writes == 0, s"a restarted session ran $writes write jobs")
    stored.foreach(q => assert(after(q) == before(q), s"$q differs after the restart"))
    assert(twinFiles(sfDir) == twins, "the bucketed twins were rewritten")

    val p = SparkEntry.queries("bucketed_join_rollup")(restarted, sfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"the restarted bucketed join shuffles:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"the restarted scan is not bucketed:\n$p")

    assert(warehouseEntries() == warehouse,
      s"the engine wrote under the warehouse: ${warehouseEntries()} vs $warehouse")
    forget(restarted)
  }

  test("a changed lineitem re-keys its bucketed twin: the rollup matches a direct join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_restart").toString
    Seq("orders", "lineitem").foreach(t =>
      spark.read.parquet(s"$sfDir/$t.parquet").write.parquet(s"$dir/$t.parquet"))

    def direct(): Set[Row] = {
      val s = spark.newSession()
      Seq("orders", "lineitem").foreach(t =>
        s.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
      s.sql(Bucketed.oracles("bucketed_join_rollup")).collect().toSet
    }
    def rollup(): Set[Row] = {
      val s = spark.newSession()
      try rows(s, "bucketed_join_rollup", dir) finally forget(s)
    }

    val original = direct()
    assert(rollup() == original)
    // same keys, every quantity moved: only a content key sees it
    spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("l_quantity", org.apache.spark.sql.functions.col("l_quantity") + 1)
      .write.parquet(s"$dir/lineitem2.parquet")
    IndexStore.deleteRecursively(new File(s"$dir/lineitem.parquet"))
    assert(new File(s"$dir/lineitem2.parquet").renameTo(new File(s"$dir/lineitem.parquet")))
    val changed = direct()
    assert(changed != original, "the rewrite changed no rollup row")
    assert(rollup() == changed)
  }
}
