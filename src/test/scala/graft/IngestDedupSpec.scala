package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IngestDedup

/** Streaming ingest dedup: the foreachBatch pipeline over the standing
  * index — stream == batch fold over the same feed, index growth
  * observable across batches, exactly-once through a torn-commit
  * restart, and the micro-batch step's plan shape. */
class IngestDedupSpec extends AnyFunSuite with SharedSpark {

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("index growth: a batch-2 doc near-identical to an ACCEPTED batch-1 doc is rejected") {
    import spark.implicits._
    // synthetic: corpus doc X; batch1 brings fresh doc A; batch2
    // brings A' ~ A (near-dup of something accepted mid-stream, not of
    // the seed corpus) and fresh doc B
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val corpus = Seq((0L, "completely different seed text about maritime law and harbors ports"))
      .toDF("doc_id", "text")
    val batch1 = Seq((1L, base)).toDF("doc_id", "text")
    val batch2 = Seq(
      (3L, base + " extra"),                       // near-dup of accepted doc 1
      (5L, "unrelated fresh content nine distinct words here for shingling purposes ok")
    ).toDF("doc_id", "text")

    val indexPath = tmp("ing_idx"); val accPath = tmp("ing_acc")
    IngestDedup.seed(spark, corpus, indexPath, accPath)
    def index(id: Long) = spark.read.parquet(indexPath)
      .filter(col("batch") < id).select("doc_id", "band", "sig")
    def known(id: Long) = spark.read.parquet(accPath)
      .filter(col("batch") < id).select("doc_id", "text")

    // step 1 (the start() body, driven directly)
    val acc1 = batch1.join(
      IngestDedup.dedupStep(spark, batch1, index(0), known(0)),
      Seq("doc_id"), "left_semi")
    acc1.write.mode("overwrite").parquet(s"$accPath/batch=0")
    graft.dedup.Dedup.bandsOf(graft.dedup.Dedup.minhashSignaturesOf(spark,
        acc1.select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (i, t) => (i, graft.dedup.Dedup.shingleSet(t)) }
          .toDF("doc_id", "sh")))
      .write.mode("overwrite").parquet(s"$indexPath/batch=0")
    assert(acc1.select("doc_id").as[Long].collect().toSeq == Seq(1L))

    // step 2: doc 3 must collide with doc 1's bands written in step 1
    val acc2 = IngestDedup.dedupStep(spark, batch2, index(1), known(1))
      .as[Long].collect().sorted
    assert(acc2.toSeq == Seq(5L),
      s"doc 3 should be rejected against the GROWN index, got $acc2")
  }

  test("file-source ingest stream == batch fold; torn-commit restart keeps exactly-once") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val inDir = tmp("ing_in"); val ckpt = tmp("ing_ckpt")
    val indexPath = tmp("ing_idx2"); val accPath = tmp("ing_acc2")

    IngestDedup.seed(spark, docs.filter(col("doc_id") % 2 === 0),
      indexPath, accPath)

    // the fold's three batches as three feed files, mod-times forced
    // strictly increasing so the file source replays the fold's order
    for ((k, i) <- Seq(1, 3, 5).zipWithIndex) {
      val sub = new java.io.File(inDir, s"b$i")
      docs.filter(col("doc_id") % 6 === k).coalesce(1)
        .write.mode("overwrite").json(sub.getAbsolutePath)
      for (f <- sub.listFiles(); if f.getName.endsWith(".json"))
        assert(f.setLastModified(1000000000000L + i * 60000L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def start() = IngestDedup.start(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").json(inDir),
      indexPath, accPath, ckpt)

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    def acceptedIds() = spark.read.parquet(accPath)
      .filter(col("batch") >= 0).select("doc_id")
      .as[Long].collect().toSeq
    val streamed = acceptedIds().sorted
    val fold = IngestDedup.ingestDedupFold(spark, sfDir)
      .as[Long].collect().sorted
    assert(streamed.toSeq == fold.toSeq,
      s"stream (${streamed.size}) != fold (${fold.size})")

    // tear the last commit: the final batch is sink-written but
    // commit-missing; the restart must replay it with the SAME
    // decisions (batch < id read guard) and overwrite, not append
    val commits = new java.io.File(s"$ckpt/commits")
      .listFiles().filter(_.getName.forall(_.isDigit))
    val torn = commits.maxBy(_.getName.toInt)
    val tornCrc = new java.io.File(torn.getParent, s".${torn.getName}.crc")
    assert(torn.delete())
    if (tornCrc.exists()) assert(tornCrc.delete())

    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val after = acceptedIds()
    assert(after.size == after.distinct.size,
      "torn-commit replay double-accepted docs")
    assert(after.sorted.toSeq == fold.toSeq,
      "post-restart accepted set diverged from the fold")
  }

  test("ingestDedupFold: the result recomputes from its step checkpoints; release frees the steps") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    val s = spark.newSession()
    val fold = IngestDedup.ingestDedupFold(s, sfDir)
    val n = fold.count()
    // the fold's registry entry owns its three step checkpoints
    val stepIds = SessionCaches.valuesOf(s).collect {
      case (r: AnyRef, steps: Seq[_]) if r eq fold =>
        steps.map(_.asInstanceOf[DataFrame].queryExecution.logical match {
          case lr: LogicalRDD => lr.rdd.id
          case other => fail(s"step is not checkpointed: ${other.nodeName}")
        })
    }.flatten
    assert(stepIds.size == 3)
    def persistent = spark.sparkContext.getPersistentRDDs.keySet
    assert(stepIds.forall(persistent.contains), "step checkpoints freed before the result")
    // lost result blocks recompute from the step checkpoints
    fold.unpersist(blocking = true)
    assert(fold.count() == n)
    SessionCaches.release(s)
    val left = stepIds.filter(persistent.contains)
    assert(left.isEmpty, s"release left step checkpoints $left")
  }

  test("startWithRetraction: an erasure flips a suppressed near-dup to accepted, erased state unreadable, replay exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val corpusText = "completely different seed text about maritime law and harbors ports"
    val corpus = Seq((0L, corpusText)).toDF("doc_id", "text")

    // two identical streams; only `withErase` carries the erasure event
    case class Run(idx: String, acc: String, tmb: String, ckpt: String,
                   mem: MemoryStream[(Long, String, String)],
                   accepted: Seq[(Long, Long)])
    def run(withErase: Boolean): Run = {
      val idx = tmp("ret_idx"); val acc = tmp("ret_acc")
      val tmb = tmp("ret_tmb"); val ckpt = tmp("ret_ckpt")
      IngestDedup.seed(spark, corpus, idx, acc)
      val mem = MemoryStream[(Long, String, String)]
      val q = IngestDedup.startWithRetraction(spark,
        mem.toDF.toDF("doc_id", "text", "op"), idx, acc, tmb, ckpt)
      try {
        mem.addData((1L, base, "ingest"))
        q.processAllAvailable()
        val b1 = Seq((3L, base + " extra", "ingest"),
          (5L, corpusText + " extra", "ingest")) ++
          (if (withErase) Seq((1L, "", "erase")) else Nil)
        mem.addData(b1)
        q.processAllAvailable()
        mem.addData((7L, base + " more", "ingest"))
        q.processAllAvailable()
      } finally q.stop()
      val accepted = spark.read.parquet(acc).filter(col("batch") >= 0)
        .select("doc_id", "batch").as[(Long, Long)].collect().sorted.toSeq
      Run(idx, acc, tmb, ckpt, mem, accepted)
    }

    assert(run(withErase = false).accepted == Seq((1L, 0L)),
      "control stream (no erasure): doc 3 suppressed by accepted doc 1, 5 by corpus, 7 by 1")

    val Run(idx, acc, tmb, ckpt, mem, accepted) = run(withErase = true)
    // erasure of doc 1 in batch 1 applies before that batch's ingests:
    // doc 3's only suppressor is gone -> ACCEPTED (the index_retract
    // flip, live); doc 5 still suppressed by the living corpus doc;
    // doc 7 then suppressed by the newly-accepted doc 3
    assert(accepted == Seq((1L, 0L), (3L, 1L)), s"retraction stream accepted $accepted")
    // erased state is unreadable through the tombstoned view
    val tombs = spark.read.parquet(tmb).select("doc_id").as[Long].collect().toSeq
    assert(tombs == Seq(1L))
    val liveBands = spark.read.parquet(idx)
      .join(spark.read.parquet(tmb).select("doc_id"), Seq("doc_id"), "left_anti")
    assert(liveBands.filter(col("doc_id") === 1L).count() == 0)

    // torn-commit replay: drop the newest commit marker, restart on the
    // same checkpoint + stores — the replayed batch must overwrite its
    // own partitions (same accepted set, no duplicated tombstones)
    val commits = new java.io.File(s"$ckpt/commits")
      .listFiles().filter(_.getName.forall(_.isDigit))
    val torn = commits.maxBy(_.getName.toInt)
    val tornCrc = new java.io.File(torn.getParent, s".${torn.getName}.crc")
    assert(torn.delete())
    if (tornCrc.exists()) assert(tornCrc.delete())
    val q2 = IngestDedup.startWithRetraction(spark,
      mem.toDF.toDF("doc_id", "text", "op"), idx, acc, tmb, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val replayed = spark.read.parquet(acc).filter(col("batch") >= 0)
      .select("doc_id", "batch").as[(Long, Long)].collect().sorted.toSeq
    assert(replayed == accepted, s"replay diverged: $replayed")
    assert(spark.read.parquet(tmb).select("doc_id").as[Long].collect().toSeq == Seq(1L),
      "replay duplicated tombstones")

    // tombstone-aware compaction: the rewrite PHYSICALLY removes the
    // erased doc's rows, and the compacted base equals what readers
    // already saw through the anti-join (no behavior change)
    val visibleBefore = spark.read.parquet(idx)
      .join(spark.read.parquet(tmb).select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "band", "sig")
      .as[(Long, Int, String)].collect().sorted.toSeq
    IngestDedup.compactStore(spark, idx, upTo = 2L, Some(tmb))
    val compacted = spark.read.parquet(idx).select("doc_id", "band", "sig")
      .as[(Long, Int, String)].collect().sorted.toSeq
    assert(!compacted.exists(_._1 == 1L), "erased doc's bands survived the rewrite")
    assert(compacted == visibleBefore, "compaction changed the readable row set")
  }

  test("batch-scoped erasure: an erased doc_id can be re-ingested and dedups later content") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val corpus = Seq((0L, "completely different seed text about maritime law and harbors ports"))
      .toDF("doc_id", "text")
    val idx = tmp("rei_idx"); val acc = tmp("rei_acc")
    val tmb = tmp("rei_tmb"); val ckpt = tmp("rei_ckpt")
    IngestDedup.seed(spark, corpus, idx, acc)
    val mem = MemoryStream[(Long, String, String)]
    val q = IngestDedup.startWithRetraction(spark,
      mem.toDF.toDF("doc_id", "text", "op"), idx, acc, tmb, ckpt)
    try {
      mem.addData((1L, base, "ingest"))          // batch 0: accepted
      q.processAllAvailable()
      mem.addData((1L, "", "erase"))             // batch 1: erased
      q.processAllAvailable()
      mem.addData((1L, base, "ingest"))          // batch 2: RE-ingest
      q.processAllAvailable()
      mem.addData((9L, base + " more", "ingest")) // batch 3: near-dup of 1
      q.processAllAvailable()
    } finally q.stop()
    val accepted = spark.read.parquet(acc).filter(col("batch") >= 0)
      .select("doc_id", "batch").as[(Long, Long)].collect().sorted.toSeq
    // the re-ingest is accepted (its only possible suppressor was
    // erased BELOW it), and — the round-10 advice fix — its bands are
    // LIVE again: doc 9 is rejected against the re-crawled content.
    // Under unscoped tombstones doc 9 would be accepted (doc 1's
    // batch-2 rows invisible forever).
    assert(accepted == Seq((1L, 0L), (1L, 2L)),
      s"re-ingest lifecycle accepted $accepted")

    // compaction + the PAIRED tombstone sweep: the erased batch-0 copy
    // is physically dropped, the re-ingested batch-2 copy folds into
    // the base and stays visible (the sweep is what protects it — a
    // surviving tombstone would re-erase the batch=-1 fold)
    IngestDedup.compactStore(spark, idx, upTo = 3L, Some(tmb))
    IngestDedup.compactStore(spark, acc, upTo = 3L, Some(tmb))
    IngestDedup.sweepTombstones(tmb, 3L)
    val accAfter = spark.read.parquet(acc)
      .filter(col("doc_id") === 1L)
    assert(accAfter.count() == 1, "compaction must keep exactly the re-ingested copy")
    // decisions over the compacted store: a fresh near-dup of the
    // re-ingested doc is still rejected
    val batchNext = Seq((11L, base + " extra")).toDF("doc_id", "text")
    val dec = IngestDedup.dedupStep(spark, batchNext,
        spark.read.parquet(idx).select("doc_id", "band", "sig"),
        spark.read.parquet(acc).select("doc_id", "text"))
      .as[Long].collect().toSeq
    assert(dec.isEmpty, s"post-compaction dedup lost the re-ingested doc: accepted $dec")
  }

  test("same-batch erase + re-ingest: the re-ingested copy stays live for later reads (strict tombstone scope)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val corpus = Seq((0L, "completely different seed text about maritime law and harbors ports"))
      .toDF("doc_id", "text")
    val idx = tmp("sbe_idx"); val acc = tmp("sbe_acc")
    val tmb = tmp("sbe_tmb"); val ckpt = tmp("sbe_ckpt")
    IngestDedup.seed(spark, corpus, idx, acc)
    val mem = MemoryStream[(Long, String, String)]
    val q = IngestDedup.startWithRetraction(spark,
      mem.toDF.toDF("doc_id", "text", "op"), idx, acc, tmb, ckpt)
    try {
      mem.addData((1L, base, "ingest"))           // batch 0: accepted
      q.processAllAvailable()
      // batch 1: ONE batch both erases doc 1 and re-ingests it — the
      // pinned ordering (erasure first, then the ingest is live) means
      // the re-ingest is accepted AND its rows postdate the tombstone
      mem.addData(Seq((1L, "", "erase"), (1L, base, "ingest")))
      q.processAllAvailable()
      // batch 2: a near-dup of doc 1 — MUST be rejected against the
      // same-batch re-ingested copy. Under a `<=` tombstone scope the
      // batch-1 rows would be invisible here (the round-11 advice bug)
      mem.addData((9L, base + " more", "ingest"))
      q.processAllAvailable()
    } finally q.stop()
    val accepted = spark.read.parquet(acc).filter(col("batch") >= 0)
      .select("doc_id", "batch").as[(Long, Long)].collect().sorted.toSeq
    assert(accepted == Seq((1L, 0L), (1L, 1L)),
      s"same-batch erase+re-ingest accepted $accepted")
    // physical compaction keeps exactly the re-ingested copy
    IngestDedup.compactStore(spark, acc, upTo = 2L, Some(tmb))
    val kept = spark.read.parquet(acc).filter(col("doc_id") === 1L).count()
    assert(kept == 1, s"compaction kept $kept copies of the re-ingested doc")
  }

  test("compaction floor: reads stay correct between compactStore and the tombstone sweep") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val corpus = Seq((0L, "completely different seed text about maritime law and harbors ports"))
      .toDF("doc_id", "text")
    val idx = tmp("flr_idx"); val acc = tmp("flr_acc")
    val tmb = tmp("flr_tmb"); val ckpt = tmp("flr_ckpt")
    IngestDedup.seed(spark, corpus, idx, acc)
    val mem = MemoryStream[(Long, String, String)]
    def start() = IngestDedup.startWithRetraction(spark,
      mem.toDF.toDF("doc_id", "text", "op"), idx, acc, tmb, ckpt)
    val q = start()
    try {
      mem.addData((1L, base, "ingest")); q.processAllAvailable()  // batch 0
      mem.addData((1L, "", "erase")); q.processAllAvailable()     // batch 1
      mem.addData((1L, base, "ingest")); q.processAllAvailable()  // batch 2: re-ingest
    } finally q.stop()
    // maintenance window: compact BOTH stores with tombstones applied,
    // but do NOT sweep (another store sharing tombPath may lag). The
    // surviving batch-1 tombstone must not re-erase the folded
    // re-ingested copy — the _compacted_upto floor lifts base rows to
    // batch 2, above the tombstone.
    IngestDedup.compactStore(spark, idx, upTo = 2L, Some(tmb))
    IngestDedup.compactStore(spark, acc, upTo = 2L, Some(tmb))
    assert(IngestDedup.compactedUpTo(idx) == 2L)
    assert(spark.read.parquet(tmb).count() == 1, "tombstone must still be present")
    val q2 = start()
    try {
      mem.addData((9L, base + " more", "ingest")) // batch 3: near-dup of 1
      q2.processAllAvailable()
    } finally q2.stop()
    // the folded store: seed doc 0 + the re-ingested doc 1 in the base
    // (batch=-1 after compaction), and doc 9 REJECTED against it. The
    // pre-fix read would see the folded doc 1 at batch -1 < tombstone
    // batch 1, re-erase it, and accept doc 9.
    val accepted = spark.read.parquet(acc)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(accepted == Seq(0L, 1L),
      s"doc 9 must be rejected against the folded re-ingested copy, store holds $accepted")
  }

  test("startGated on unseeded stores: the first healthy batch is accepted, not an AnalysisException") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mkText(tag: String, n: Int) = (0 until n).map(j => s"$tag$j").mkString(" ")
    val ref = (0 until 20).map(i => (i.toLong, mkText(s"r${i}t", 5 + i)))
      .toDF("doc_id", "text")
    val idx = tmp("uns_idx"); val acc = tmp("uns_acc")
    val qua = tmp("uns_qua"); val mon = tmp("uns_mon"); val ckpt = tmp("uns_ckpt")
    // NO seed() call: both stores start with zero batch= partitions
    val mem = MemoryStream[(Long, String)]
    val q = IngestDedup.startGated(spark, ref, mem.toDF.toDF("doc_id", "text"),
      idx, acc, qua, mon, ckpt)
    try {
      mem.addData((0 until 10).map(i => (101L + i, mkText(s"a${i}t", 5 + 2 * i))))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"gated stream died: ${q.exception}")
    } finally q.stop()
    val accepted = spark.read.parquet(acc).filter(col("batch") >= 0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(accepted == (101L to 110L), s"unseeded first batch accepted $accepted")
  }

  test("start on unseeded stores: the first batch is accepted, not an AnalysisException") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mkText(tag: String, n: Int) = (0 until n).map(j => s"$tag$j").mkString(" ")
    val idx = tmp("unst_idx"); val acc = tmp("unst_acc"); val ckpt = tmp("unst_ckpt")
    // NO seed() call: both stores start with zero batch= partitions
    val mem = MemoryStream[(Long, String)]
    val q = IngestDedup.start(spark, mem.toDF.toDF("doc_id", "text"), idx, acc, ckpt)
    try {
      mem.addData((0 until 10).map(i => (101L + i, mkText(s"a${i}t", 5 + 2 * i))))
      q.processAllAvailable()
      // the second batch reads what the first wrote: 201 is a near-dup
      // of accepted 102, 202 is fresh
      mem.addData(Seq((201L, mkText("a1t", 7) + " extra"), (202L, mkText("fresh", 9))))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
    val accepted = spark.read.parquet(acc).filter(col("batch") >= 0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(accepted == (101L to 110L) :+ 202L, s"unseeded stream accepted $accepted")
  }

  test("start: no micro-batch shuffles the index or the accepted store, and none infers a schema") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.util.QueryExecutionListener
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val inDir = tmp("pin_in"); val ckpt = tmp("pin_ckpt")
    val indexPath = tmp("pin_idx"); val accPath = tmp("pin_acc")
    IngestDedup.seed(spark, docs.filter(col("doc_id") % 2 === 0), indexPath, accPath)
    for ((k, i) <- Seq(1, 3, 5).zipWithIndex) {
      val sub = new java.io.File(inDir, s"b$i")
      docs.filter(col("doc_id") % 6 === k).coalesce(1)
        .write.mode("overwrite").json(sub.getAbsolutePath)
      for (f <- sub.listFiles(); if f.getName.endsWith(".json"))
        assert(f.setLastModified(1000000000000L + i * 60000L))
    }

    // every executed plan, and every job with its stream id and whether
    // it is parquet schema inference: `mergeSchemasInParallel`
    // parallelizes the footers to read outside any plan node, so its
    // collection keeps the `parallelize` scope, where a plan's
    // LocalTableScan scopes its own under the node. (Stage details
    // cannot tell them apart: the stream thread runs every job under
    // the call site of the query's `start`.)
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new ConcurrentLinkedQueue[(String, Boolean)]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add((Option(e.properties).map(_.getProperty("sql.streaming.queryId")).orNull,
          e.stageInfos.exists(_.rddInfos.exists(r => r.name == "ParallelCollectionRDD" &&
            r.scope.forall(_.name == "parallelize"))))); ()
      }
    }
    spark.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(jobListener)
    val queryId = try {
      val q = IngestDedup.start(spark,
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").json(inDir),
        indexPath, accPath, ckpt)
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      q.id.toString
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }

    // walked through AQE: final plans, query stages, reused exchanges,
    // a write command's plan, cached relations and subqueries
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }) ++ p.children ++ p.subqueries).flatMap(walk)
    def storeScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists { r =>
        val path = r.toUri.getPath.stripSuffix("/")
        Seq(indexPath, accPath).exists(d => path == d || path.startsWith(d + "/"))
      }
      case _ => false
    }
    val all = plans.asScala.toSeq.flatMap(walk)
    assert(all.exists(storeScan), "no executed plan scanned the stores")
    val shuffled = all.collect { case e: ShuffleExchangeLike => e }
      .filter(e => walk(e).exists(storeScan))
    assert(shuffled.isEmpty,
      s"${shuffled.size} exchanges shuffle a store scan:\n${shuffled.headOption.fold("")(_.treeString)}")
    val streamJobs = jobs.asScala.toSeq.filter(_._1 == queryId)
    assert(streamJobs.nonEmpty, "no job carried the stream's query id")
    assert(!streamJobs.exists(_._2),
      s"${streamJobs.count(_._2)} schema-inference jobs (a parallelize outside any plan) ran")
  }

  test("startGated: 20 micro-batches leave the count of persistent RDDs flat") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mkText(tag: String, n: Int) = (0 until n).map(j => s"$tag$j").mkString(" ")
    val ref = (0 until 20).map(i => (i.toLong, mkText(s"r${i}t", 5 + i)))
      .toDF("doc_id", "text")
    val idx = tmp("flat_idx"); val acc = tmp("flat_acc")
    val qua = tmp("flat_qua"); val mon = tmp("flat_mon"); val ckpt = tmp("flat_ckpt")
    IngestDedup.seed(spark, ref, idx, acc)
    val mem = MemoryStream[(Long, String)]
    val q = IngestDedup.startGated(spark, ref, mem.toDF.toDF("doc_id", "text"),
      idx, acc, qua, mon, ckpt)
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var settled = Set.empty[Int]
    try {
      for (b <- 0 until 20) {
        // healthy batches: the reference's length spread, fresh tokens
        mem.addData((0 until 10).map(i => (1000L * (b + 1) + i, mkText(s"b${b}x${i}t", 5 + 2 * i))))
        q.processAllAvailable()
        if (b == 1) settled = persistent
      }
      assert(q.exception.isEmpty, s"gated stream died: ${q.exception}")
    } finally q.stop()
    val grown = persistent -- settled
    assert(grown.isEmpty, s"${grown.size} persistent RDDs accumulated over 18 micro-batches")
  }

  test("startGated: drifted batch quarantined before the fold, healthy batches dedup normally") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // reference corpus: 20 docs, 5..24 tokens — its deciles are the gate
    def mkText(tag: String, n: Int) = (0 until n).map(j => s"$tag$j").mkString(" ")
    val ref = (0 until 20).map(i => (i.toLong, mkText(s"r${i}t", 5 + i)))
      .toDF("doc_id", "text")
    // healthy batches mirror the reference length spread; the drifted
    // batch is uniformly 60 tokens — every doc lands in the top decile
    val batch0 = (0 until 10).map(i => (101L + i, mkText(s"a${i}t", 5 + 2 * i)))
    val driftText = mkText("d0t", 60)
    val batch1 = (201L, driftText) +:
      (1 until 10).map(i => (201L + i, mkText(s"d${i}t", 60))).toSeq
    val batch2 = Seq(
      (301L, driftText + " extra"),                    // near-dup of QUARANTINED 201
      (302L, mkText("a1t", 7) + " extra")) ++          // near-dup of accepted 102
      (2 until 10).map(i => (301L + i, mkText(s"c${i}t", 5 + 2 * i)))

    val idx = tmp("gat_idx"); val acc = tmp("gat_acc")
    val qua = tmp("gat_qua"); val mon = tmp("gat_mon"); val ckpt = tmp("gat_ckpt")
    IngestDedup.seed(spark, ref, idx, acc)
    val mem = MemoryStream[(Long, String)]
    val q = IngestDedup.startGated(spark, ref, mem.toDF.toDF("doc_id", "text"),
      idx, acc, qua, mon, ckpt)
    try {
      for (b <- Seq(batch0, batch1, batch2)) {
        mem.addData(b); q.processAllAvailable()
      }
    } finally q.stop()

    // the monitor sink has every batch's PSI table; only the drifted
    // batch crosses the gate
    def worstPsi(id: Int) = spark.read.parquet(s"$mon/batch=$id")
      .agg(max("psi")).head().getDouble(0)
    assert(worstPsi(0) <= IngestDedup.PsiGate, s"healthy batch 0 gated: ${worstPsi(0)}")
    assert(worstPsi(1) > IngestDedup.PsiGate, s"drifted batch passed: ${worstPsi(1)}")
    assert(worstPsi(2) <= IngestDedup.PsiGate, s"healthy batch 2 gated: ${worstPsi(2)}")

    // quarantine holds exactly the drifted batch; its docs never
    // reached the index — so 301 (near-dup of quarantined 201) is
    // ACCEPTED while 302 (near-dup of accepted 102) is rejected
    val quarantined = spark.read.parquet(qua)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(quarantined == (201L to 210L))
    val accepted = spark.read.parquet(acc).filter(col("batch") >= 0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val expected = (101L to 110L) ++ Seq(301L) ++ (303L to 310L)
    assert(accepted == expected, s"gated stream accepted $accepted")

    // stream == the batch fold with the gated batch EXCLUDED
    def bands(docs: org.apache.spark.sql.DataFrame) =
      graft.dedup.Dedup.bandsOf(graft.dedup.Dedup.minhashSignaturesOf(spark,
        docs.select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (i, t) => (i, graft.dedup.Dedup.shingleSet(t)) }
          .toDF("doc_id", "sh")))
    var index = bands(ref).select("doc_id", "band", "sig")
    var known = ref
    val foldAccepted = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (b <- Seq(batch0, batch2)) {
      val bdf = b.toDF("doc_id", "text")
      val acc2 = bdf.join(IngestDedup.dedupStep(spark, bdf, index, known),
        Seq("doc_id"), "left_semi")
      foldAccepted ++= acc2.select("doc_id").as[Long].collect()
      index = index.unionByName(bands(acc2).select("doc_id", "band", "sig"))
      known = known.unionByName(acc2)
    }
    assert(foldAccepted.sorted.toSeq == accepted,
      "gated stream diverged from the fold-without-the-gated-batch")
  }

  test("startGated with a quantizer: embedding drift quarantines a batch whose scalar stats are healthy") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a deployed 2-cell quantizer over 4-dim embeddings
    val quantizer = Array(
      Array(1.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0))
    def cellVec(cell: Int, i: Int): Array[Double] = {
      val v = Array(0.01, 0.01, 0.01 * (i % 3 + 1), 0.01)
      v(cell) = 1.0; v
    }
    def mkText(tag: String, n: Int) = (0 until n).map(j => s"$tag$j").mkString(" ")
    // reference: lengths 5..24, embeddings split 50/50 across both cells
    val ref = (0 until 20)
      .map(i => (i.toLong, mkText(s"r${i}t", 5 + i), cellVec(i % 2, i).toSeq))
      .toDF("doc_id", "text", "embedding")
    // batch 0: healthy on BOTH axes (length spread mirrors ref, cells 50/50)
    val batch0 = (0 until 10)
      .map(i => (101L + i, mkText(s"a${i}t", 5 + 2 * i), cellVec(i % 2, i).toSeq))
    // batch 1: scalar-HEALTHY (same length spread) but every embedding
    // in cell 1 — the topic shift only the embedding space sees
    val batch1 = (0 until 10)
      .map(i => (201L + i, mkText(s"d${i}t", 5 + 2 * i), cellVec(1, i).toSeq))
    // batch 2: healthy again; 302 is a near-dup of QUARANTINED 202 —
    // quarantined docs must never suppress later content
    val batch2 = (0 until 10).map { i =>
      val text = if (i == 1) mkText(s"d${1}t", 7) + " extra"
        else mkText(s"c${i}t", 5 + 2 * i)
      (301L + i, text, cellVec(i % 2, i).toSeq)
    }
    val idx = tmp("emb_idx"); val acc = tmp("emb_acc")
    val qua = tmp("emb_qua"); val mon = tmp("emb_mon"); val ckpt = tmp("emb_ckpt")
    IngestDedup.seed(spark, ref.select("doc_id", "text"), idx, acc)
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val q = IngestDedup.startGated(spark, ref,
      mem.toDF.toDF("doc_id", "text", "embedding"),
      idx, acc, qua, mon, ckpt, Some(quantizer))
    try {
      for (b <- Seq(batch0, batch1, batch2)) {
        mem.addData(b); q.processAllAvailable()
      }
      assert(q.exception.isEmpty, s"gated stream died: ${q.exception}")
    } finally q.stop()

    // batch 1: scalar features under the gate, embedding cells OVER it
    val m1 = spark.read.parquet(s"$mon/batch=1")
    val scalarWorst = m1.filter(col("feature") =!= "embedding")
      .agg(max("psi")).head().getDouble(0)
    val embWorst = m1.filter(col("feature") === "embedding")
      .agg(max("psi")).head().getDouble(0)
    assert(scalarWorst <= IngestDedup.PsiGate,
      s"batch 1 must be scalar-healthy, psi=$scalarWorst")
    assert(embWorst > IngestDedup.PsiGate,
      s"batch 1's embedding shift must cross the gate, psi=$embWorst")
    // quarantine holds exactly batch 1; the embedding-drifted docs
    // never reached the index, so 302 (near-dup of quarantined 202)
    // is accepted
    val quarantined = spark.read.parquet(qua)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(quarantined == (201L to 210L), s"quarantined $quarantined")
    val accepted = spark.read.parquet(acc).filter(col("batch") >= 0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(accepted == (101L to 110L) ++ (301L to 310L),
      s"gated-on-embedding stream accepted $accepted")
  }

  test("swapBase crash states are recovered, never lost (round-10 advice)") {
    import spark.implicits._
    val store = tmp("swp_idx")
    Seq((0L, 0, "a"), (2L, 1, "b")).toDF("doc_id", "band", "sig")
      .write.mode("overwrite").parquet(s"$store/batch=-1")
    Seq((1L, 0, "c")).toDF("doc_id", "band", "sig")
      .write.mode("overwrite").parquet(s"$store/batch=0")
    def rows() = spark.read.parquet(store).select("doc_id", "band", "sig")
      .as[(Long, Int, String)].collect().sorted.toSeq
    val before = rows()

    // crash window 1: base demoted, staged copy not yet promoted — the
    // state the old delete-then-rename protocol turned into permanent
    // loss. The documented repair (re-running compaction) must restore
    // the base BEFORE reading the store.
    assert(new java.io.File(store, "batch=-1")
      .renameTo(new java.io.File(store, ".base-old")))
    IngestDedup.compactStore(spark, store, upTo = 0L)
    assert(rows() == before, "rows lost across a mid-swap crash repair")
    assert(new java.io.File(store, "batch=-1").exists())
    assert(!new java.io.File(store, ".base-old").exists())

    // crash window 2: promoted but demoted copy not yet dropped — the
    // swap committed; recovery just finishes the cleanup
    val stale = new java.io.File(store, ".base-old")
    assert(stale.mkdirs())
    new java.io.File(stale, "leftover").createNewFile()
    IngestDedup.recoverBase(store)
    assert(!stale.exists(), "committed-swap residue not cleaned")
    assert(rows() == before)
  }

  test("compactStore: mid-stream compaction leaves rows and later decisions unchanged") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    def store(suffix: String): (String, String) = (tmp(s"cmp_idx$suffix"), tmp(s"cmp_acc$suffix"))
    val (idxA, accA) = store("a"); val (idxB, accB) = store("b")
    // identical seed + two driven batches in both stores
    for ((idx, acc) <- Seq((idxA, accA), (idxB, accB))) {
      IngestDedup.seed(spark, docs.filter(col("doc_id") % 2 === 0), idx, acc)
      for ((k, id) <- Seq(1 -> 0L, 3 -> 1L)) {
        val batch = docs.filter(col("doc_id") % 6 === k)
        val index = spark.read.parquet(idx).filter(col("batch") < id)
          .select("doc_id", "band", "sig")
        val known = spark.read.parquet(acc).filter(col("batch") < id)
          .select("doc_id", "text")
        val accepted = batch.join(
          IngestDedup.dedupStep(spark, batch, index, known), Seq("doc_id"), "left_semi")
        accepted.write.mode("overwrite").parquet(s"$acc/batch=$id")
        graft.dedup.Dedup.bandsOf(graft.dedup.Dedup.minhashSignaturesOf(spark,
            accepted.select(col("doc_id"), col("text")).as[(Long, String)]
              .map { case (i, t) => (i, graft.dedup.Dedup.shingleSet(t)) }
              .toDF("doc_id", "sh")))
          .write.mode("overwrite").parquet(s"$idx/batch=$id")
      }
    }
    val before = spark.read.parquet(idxA).select("doc_id", "band", "sig")
      .as[(Long, Int, String)].collect().sorted.toSeq
    // compact store A only; store B stays fragmented as the reference
    IngestDedup.compactStore(spark, idxA, upTo = 1L)
    val dirs = new java.io.File(idxA).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted.toSeq
    assert(dirs == Seq("batch=-1"), s"expected only the base, got $dirs")
    val after = spark.read.parquet(idxA).select("doc_id", "band", "sig")
      .as[(Long, Int, String)].collect().sorted.toSeq
    assert(after == before, "compaction changed the store's row set")
    // batch 3's decision over the compacted store == over the reference
    val batch3 = docs.filter(col("doc_id") % 6 === 5)
    def decide(idx: String, acc: String) = IngestDedup.dedupStep(spark, batch3,
        spark.read.parquet(idx).filter(col("batch") < 2).select("doc_id", "band", "sig"),
        spark.read.parquet(acc).filter(col("batch") < 2).select("doc_id", "text"))
      .as[Long].collect().sorted.toSeq
    assert(decide(idxA, accA) == decide(idxB, accB),
      "post-compaction decisions diverged from the uncompacted store")
  }

  test("index_compact: bounded file count, row-identical content, no kernels in the stats plan") {
    def partFiles(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).getOrElse(Array.empty)
      kids.filter(_.isDirectory).flatMap(partFiles).toSeq ++
        kids.filter(f => f.isFile && f.getName.startsWith("part-"))
    }
    // the fragmented store: one partition dir per batch (seed + 3
    // fold steps), several part files each — the small-files problem
    // in miniature
    val store = streaming.IngestDedup.fragmentedStore(spark, sfDir)
    val batchDirs = store.listFiles().filter(_.getName.startsWith("batch="))
    assert(batchDirs.length == 4,
      s"expected batch=-1..2 partitions, got ${batchDirs.map(_.getName).toSeq}")
    // at sf0.001 each batch writes a single part file; the fragment
    // count is the BATCH count (one dir per batch — what grows without
    // bound at a crawl's cadence), compaction must land strictly below
    val fragFiles = partFiles(store)
    assert(fragFiles.size >= 4, s"fragmented store has ${fragFiles.size} files")

    val stats = streaming.IngestDedup.indexCompact(spark, sfDir)
    // the stats read the WRITTEN copy: a parquet scan + aggregate, no
    // signature kernel anywhere in the plan
    val plan = stats.queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions"),
      "compaction stats must read the stored artifact, not recompute bands")
    assert(stats.count() == graft.dedup.Dedup.NumHashes / graft.dedup.Dedup.BandRows)

    // the newest compacted version: bounded files, identical rows.
    // Scope the scan to THIS fixture's content-fingerprinted prefix —
    // a bare "ingest_bands_compacted" prefix also matches versions
    // published for other corpora sharing the store root (e.g. an
    // sf0.1 bench run in the same /tmp), whose generation numbers can
    // out-rank this test's publish (round-16 flake).
    val fixturePrefix = graft.IndexStore.indexDir(spark, sfDir, "documents",
      "ingest_bands_compacted", graft.dedup.Dedup.MinhashIndexParams).getName + "-v"
    val versions = graft.IndexStore.root.listFiles()
      .filter(_.getName.startsWith(fixturePrefix))
      .filter(d => new java.io.File(d, "_SUCCESS").exists())
    assert(versions.nonEmpty)
    // election order = parsed generation sequence (mtime only breaks
    // legacy unnumbered names) — same rule as IndexStore.versionsAt
    val newest = versions.maxBy { d =>
      val seq = d.getName.split("-v").last
      (if (seq.nonEmpty && seq.forall(_.isDigit)) seq.toLong else -1L,
        new java.io.File(d, "_SUCCESS").lastModified())
    }
    val frag = spark.read.parquet(store.getAbsolutePath)
      .select("doc_id", "band", "sig")
    val comp = spark.read.parquet(newest.getAbsolutePath)
    val bound = math.max(1L,
      (frag.count() + streaming.IngestDedup.CompactRowsPerFile - 1)
        / streaming.IngestDedup.CompactRowsPerFile)
    assert(partFiles(newest).size <= bound,
      s"compacted to ${partFiles(newest).size} files, bound $bound")
    assert(partFiles(newest).size < fragFiles.size,
      "compaction must reduce the file count")
    assert(comp.exceptAll(frag).isEmpty && frag.exceptAll(comp).isEmpty,
      "compacted content differs from the fragmented store")
  }

  test("start: at most 5 jobs per non-empty micro-batch over the three-file feed") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val inDir = tmp("jobs_in"); val ckpt = tmp("jobs_ckpt")
    val indexPath = tmp("jobs_idx"); val accPath = tmp("jobs_acc")
    IngestDedup.seed(spark, docs.filter(col("doc_id") % 2 === 0), indexPath, accPath)
    // the fold's three batches as three feed files, in the fold's order
    for ((k, i) <- Seq(1, 3, 5).zipWithIndex) {
      val sub = new java.io.File(inDir, s"b$i")
      docs.filter(col("doc_id") % 6 === k).coalesce(1)
        .write.mode("overwrite").json(sub.getAbsolutePath)
      for (f <- sub.listFiles(); if f.getName.endsWith(".json"))
        assert(f.setLastModified(1000000000000L + i * 60000L))
    }
    // (stream query id, micro-batch id) of every job
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          jobs.add((p.getProperty("sql.streaming.queryId"), p.getProperty("streaming.sql.batchId")))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val (queryId, batches) = try {
      val q = IngestDedup.start(spark,
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").json(inDir),
        indexPath, accPath, ckpt)
      try q.processAllAvailable() finally q.stop()
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      (q.id.toString, q.recentProgress.filter(_.numInputRows > 0).map(_.batchId))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(batches.length == 3)
    val perBatch = batches.map(b => b -> jobs.asScala.count(_ == ((queryId, b.toString)))).toMap
    assert(perBatch.values.forall(n => n > 0 && n <= 5), s"jobs per micro-batch: $perBatch")
  }

  test("the driver's band keys equal the bandsOf rows on the sf0.01 documents") {
    import spark.implicits._
    import graft.dedup.Dedup
    val dir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text").as[(Long, String)]
    val frame = Dedup.bandsOf(Dedup.minhashSignaturesOf(spark,
        docs.map { case (d, t) => (d, Dedup.shingleSet(t)) }.toDF("doc_id", "sh")))
      .as[(Long, Int, String)].collect().sorted.toSeq
    val driver = docs.collect().toSeq.flatMap { case (d, t) =>
      val sh = Dedup.shingleSet(t)
      if (sh.isEmpty) Nil else Dedup.bandKeys(Dedup.signature(sh)).map { case (b, s) => (d, b, s) }
    }.sorted
    assert(frame.size == 500 * Dedup.NumHashes / Dedup.BandRows)
    assert(driver == frame)
  }

  test("a re-sent doc_id is verified against its stored copies only, never against itself") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.dedup.Dedup
    implicit val sqlCtx = spark.sqlContext
    val words = (0 until 40).map(i => s"w$i")
    val a = words.mkString(" ")
    def jaccard(x: String, y: String) = {
      val (s, t) = (Dedup.shingleSet(x).toSet, Dedup.shingleSet(y).toSet)
      (s & t).size.toDouble / (s | t).size
    }
    def keys(t: String) = Dedup.bandKeys(Dedup.signature(Dedup.shingleSet(t))).toSet
    // new text for doc 1: below the Jaccard bar against its stored copy,
    // but sharing a band bucket with it, so the pair is verified
    val b = (0 until 2000).iterator.map { i =>
      val r = new scala.util.Random(i)
      val swap = r.shuffle(words.indices.toList).take(6).toSet
      words.indices.map(j => if (swap(j)) s"x${i}_$j" else words(j)).mkString(" ")
    }.find(t => jaccard(a, t) < 0.5 && (keys(a) & keys(t)).nonEmpty).get
    val idx = tmp("rs_idx"); val acc = tmp("rs_acc"); val ckpt = tmp("rs_ckpt")
    IngestDedup.seed(spark, Seq((1L, a)).toDF("doc_id", "text"), idx, acc)
    val mem = MemoryStream[(Long, String)]
    val q = IngestDedup.start(spark, mem.toDF.toDF("doc_id", "text"), idx, acc, ckpt)
    try {
      // batch 0: doc 1 re-sent with new text b is accepted (b vs stored a
      // fails the bar; a union of copies would match stored a to itself);
      // doc 2, a near-dup of stored a, is rejected
      mem.addData(Seq((1L, b), (2L, a + " extra")))
      q.processAllAvailable()
      // batch 1: doc 1 now has stored copies a and b. Re-sending a is
      // rejected (a vs stored a), and doc 3, a near-dup of the stored
      // copy b only, is rejected too
      mem.addData(Seq((1L, a), (3L, b + " more")))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
    } finally q.stop()
    val accepted = spark.read.parquet(acc).filter(col("batch") >= 0)
      .select("doc_id", "batch").as[(Long, Long)].collect().sorted.toSeq
    assert(accepted == Seq((1L, 0L)), s"accepted $accepted")
  }

  test("start and startWithRetraction: 20 micro-batches leave the count of persistent RDDs flat") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQuery
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mkText(tag: String, n: Int) = (0 until n).map(j => s"$tag$j").mkString(" ")
    def batch(b: Int) = (0 until 10).map(i => (1000L * (b + 1) + i, mkText(s"b${b}x${i}t", 5 + 2 * i)))
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    /** persistent RDDs that appeared after the second of 20 batches */
    def growth(q: StreamingQuery)(add: Int => Unit): Set[Int] = {
      var settled = Set.empty[Int]
      try for (b <- 0 until 20) {
        add(b)
        q.processAllAvailable()
        if (b == 1) settled = persistent
      } finally q.stop()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      persistent -- settled
    }
    val seed = (0 until 20).map(i => (i.toLong, mkText(s"r${i}t", 5 + i))).toDF("doc_id", "text")

    val idx = tmp("flat_s_idx"); val acc = tmp("flat_s_acc")
    IngestDedup.seed(spark, seed, idx, acc)
    val docs = MemoryStream[(Long, String)]
    val plain = growth(IngestDedup.start(spark, docs.toDF.toDF("doc_id", "text"), idx, acc,
      tmp("flat_s_ckpt")))(b => docs.addData(batch(b)))
    assert(plain.isEmpty, s"start: ${plain.size} persistent RDDs accumulated over 18 micro-batches")

    val ridx = tmp("flat_r_idx"); val racc = tmp("flat_r_acc")
    IngestDedup.seed(spark, seed, ridx, racc)
    val events = MemoryStream[(Long, String, String)]
    // every third batch also erases a doc the batch before accepted
    val retracting = growth(IngestDedup.startWithRetraction(spark,
        events.toDF.toDF("doc_id", "text", "op"), ridx, racc, tmp("flat_r_tmb"), tmp("flat_r_ckpt"))) { b =>
      events.addData(batch(b).map { case (d, t) => (d, t, "ingest") } ++
        (if (b % 3 == 2) Seq((1000L * b, "", "erase")) else Nil))
    }
    assert(retracting.isEmpty,
      s"startWithRetraction: ${retracting.size} persistent RDDs accumulated over 18 micro-batches")
  }
}
