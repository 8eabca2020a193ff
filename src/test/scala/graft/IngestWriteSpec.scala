package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.streaming.IngestDedup

/** The ingest micro-batch's writes: the source is read once per batch,
  * the stores are written from the rows the step verified, and the two
  * concurrent writes fail, replay and report as one micro-batch. */
class IngestWriteSpec extends AnyFunSuite with SharedSpark {

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private lazy val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")

  /** The fold's three batches (doc_id % 6 = 1, 3, 5) as three JSON feed
    * files with increasing modification times; `extend` adds columns. */
  private def feed(extend: DataFrame => DataFrame = identity): String = {
    val dir = tmp("feed")
    for ((k, i) <- Seq(1, 3, 5).zipWithIndex) {
      val sub = new java.io.File(dir, s"b$i")
      extend(docs.filter(col("doc_id") % 6 === k)).coalesce(1)
        .write.mode("overwrite").json(sub.getAbsolutePath)
      for (f <- sub.listFiles(); if f.getName.endsWith(".json"))
        assert(f.setLastModified(1000000000000L + i * 60000L))
    }
    dir
  }

  private def feedStream(dir: String, extend: DataFrame => DataFrame = identity): DataFrame =
    spark.readStream.schema(extend(docs).schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").json(dir)

  /** Stores seeded with the even-id corpus: (index path, accepted path). */
  private def seeded(tag: String): (String, String) = {
    val (idx, acc) = (tmp(s"${tag}_idx"), tmp(s"${tag}_acc"))
    IngestDedup.seed(spark, docs.filter(col("doc_id") % 2 === 0), idx, acc)
    (idx, acc)
  }

  private case class Job(queryId: String, batchId: String, executionId: String,
                         rdds: Seq[(String, String)]) {
    def has(rdd: String, scope: String => Boolean): Boolean =
      rdds.exists { case (n, s) => n == rdd && scope(s) }
  }

  /** Runs `q` to the end of its feed and returns it with every job
    * started meanwhile, once the listener bus has delivered them. */
  private def runWithJobs(q: => StreamingQuery): (StreamingQuery, Seq[Job]) = {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties())
        jobs.add(Job(p.getProperty("sql.streaming.queryId"), p.getProperty("streaming.sql.batchId"),
          p.getProperty("spark.sql.execution.id"),
          e.stageInfos.flatMap(_.rddInfos.map(r => (r.name, r.scope.fold("")(_.name)))))); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val query = q
      try query.processAllAvailable() finally query.stop()
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      (query, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def nonEmptyBatches(q: StreamingQuery): Seq[Long] =
    q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq

  test("start: each non-empty micro-batch runs one executed plan that scans the feed") {
    val (idx, acc) = seeded("scan")
    val (q, jobs) = runWithJobs(IngestDedup.start(spark, feedStream(feed()), idx, acc, tmp("scan_ckpt")))
    val batches = nonEmptyBatches(q)
    assert(batches.length == 3)
    val scans = batches.map { b =>
      b -> jobs.filter(j => j.queryId == q.id.toString && j.batchId == b.toString &&
          j.has("FileScanRDD", _.startsWith("Scan json")))
        .map(_.executionId).distinct.size
    }.toMap
    assert(scans.values.forall(_ == 1), s"executed plans scanning the feed, per micro-batch: $scans")
  }

  /** Per batch partition, the index rows equal the bands of the accepted
    * store's rows, as a multiset; every partition holds one data file. */
  private def assertIndexIsBandsOfAccepted(idx: String, acc: String): Unit = {
    import spark.implicits._
    val ids = spark.read.parquet(acc).select("batch").distinct().as[Int].collect().sorted
    assert(ids.contains(-1) && ids.exists(_ >= 0), s"batch partitions: ${ids.toSeq}")
    for (b <- ids) {
      val stored = spark.read.parquet(s"$idx/batch=$b").select("doc_id", "band", "sig")
      val recomputed = Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
        spark.read.parquet(s"$acc/batch=$b").select("doc_id", "text").as[(Long, String)]
          .map { case (d, t) => (d, Dedup.shingleSet(t)) }.toDF("doc_id", "sh")))
      assert(stored.count() > 0 && stored.exceptAll(recomputed).isEmpty &&
        recomputed.exceptAll(stored).isEmpty, s"batch=$b: index rows differ from the accepted docs' bands")
    }
    for (store <- Seq(idx, acc); d <- new java.io.File(store).listFiles() if d.getName.startsWith("batch=")) {
      val files = d.list().filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(files.length == 1, s"$d holds ${files.length} data files")
    }
  }

  test("start and startWithRetraction: the index is the bands of the accepted store, one data file per partition") {
    val (idx, acc) = seeded("rows_s")
    runWithJobs(IngestDedup.start(spark, feedStream(feed()), idx, acc, tmp("rows_s_ckpt")))
    assertIndexIsBandsOfAccepted(idx, acc)

    val withOp: DataFrame => DataFrame = _.withColumn("op", lit("ingest"))
    val (ridx, racc) = seeded("rows_r")
    runWithJobs(IngestDedup.startWithRetraction(spark, feedStream(feed(withOp), withOp),
      ridx, racc, tmp("rows_r_tmb"), tmp("rows_r_ckpt")))
    assertIndexIsBandsOfAccepted(ridx, racc)
    // retraction reads the stores through the tombstone anti-join, with
    // no tombstones here: both streams decide and write the same rows
    for ((a, b) <- Seq(idx -> ridx, acc -> racc)) {
      val (x, y) = (spark.read.parquet(a), spark.read.parquet(b))
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, s"$a and $b differ")
    }
  }

  test("startGated: a gated batch still writes empty, readable partitions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mkText(tag: String, n: Int) = (0 until n).map(j => s"$tag$j").mkString(" ")
    val ref = (0 until 20).map(i => (i.toLong, mkText(s"r${i}t", 5 + i))).toDF("doc_id", "text")
    val idx = tmp("gate_idx"); val acc = tmp("gate_acc")
    IngestDedup.seed(spark, ref, idx, acc)
    val mem = MemoryStream[(Long, String)]
    val q = IngestDedup.startGated(spark, ref, mem.toDF.toDF("doc_id", "text"),
      idx, acc, tmp("gate_qua"), tmp("gate_mon"), tmp("gate_ckpt"))
    try {
      // every doc 60 tokens long: all in the reference's top decile
      mem.addData((0 until 10).map(i => (201L + i, mkText(s"d${i}t", 60))))
      q.processAllAvailable()
    } finally q.stop()
    assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    for ((store, cols) <- Seq(acc -> Seq("doc_id", "text"), idx -> Seq("doc_id", "band", "sig"))) {
      val part = spark.read.parquet(s"$store/batch=0")
      assert(part.columns.toSeq == cols && part.count() == 0, s"$store/batch=0: ${part.schema}")
    }
    assert(spark.read.parquet(acc).filter(col("batch") === 0).count() == 0)
  }

  test("the two writes: a failure in either fails the micro-batch, a replay writes the same stores, every write job carries the stream's ids") {
    val key = "spark.sql.sources.commitProtocolClass"
    val previous = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    try {
      val in = feed()
      val (idx, acc) = seeded("two_ref")
      val (q, jobs) = runWithJobs(IngestDedup.start(spark, feedStream(in), idx, acc, tmp("two_ref_ckpt")))
      val writes = jobs.filter(_.has("MapPartitionsRDD", _ == "WriteFiles"))
      assert(writes.nonEmpty && writes.forall(j => j.queryId == q.id.toString && j.batchId != null),
        s"write jobs without the stream's ids: ${writes.filter(_.queryId != q.id.toString)}")
      for (b <- nonEmptyBatches(q))
        assert(writes.count(_.batchId == b.toString) == 2, s"batch $b: write jobs ${writes.map(_.batchId)}")

      def rows(store: String) = spark.read.parquet(store)
      for (failing <- Seq("acc", "idx")) {
        val (fidx, facc) = seeded(s"two_$failing")
        val ckpt = tmp(s"two_${failing}_ckpt")
        FailingCommitProtocol.target = Some(s"${if (failing == "acc") facc else fidx}/batch=1")
        val died = try intercept[StreamingQueryException] {
          runWithJobs(IngestDedup.start(spark, feedStream(in), fidx, facc, ckpt))
        } finally FailingCommitProtocol.target = None
        assert(died.getMessage.contains("injected commit failure"), died.getMessage)
        runWithJobs(IngestDedup.start(spark, feedStream(in), fidx, facc, ckpt))
        for ((mine, theirs) <- Seq(fidx -> idx, facc -> acc))
          assert(rows(mine).exceptAll(rows(theirs)).isEmpty && rows(theirs).exceptAll(rows(mine)).isEmpty,
            s"after a failed $failing write and its replay, $mine differs from the reference")
      }
    } finally previous.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

/** The default commit protocol, failing the job commit of the output
  * path named by [[FailingCommitProtocol.target]]. */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    if (FailingCommitProtocol.target.exists(t => path.stripSuffix("/").endsWith(t)))
      throw new java.io.IOException(s"injected commit failure at $path")
    super.commitJob(jobContext, taskCommits)
  }
}

object FailingCommitProtocol {
  @volatile var target: Option[String] = None
}
