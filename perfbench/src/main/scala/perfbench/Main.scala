package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{IndexStore, Sessions, SparkEntry, Tables}
import graft.legacy.{JobRunner, TsvDataset, WordCountJob}
import graft.streaming.IngestDedup

/** Benchmark harness JVM. Arguments are `key=value` pairs:
  *
  *  - `data`: directory of the generated parquet tables;
  *  - `work`: scratch directory of this run (staging, warehouse, streams);
  *  - `out`: where the result JSON and the result parquet dumps go;
  *  - `feed`: the ingest stream's input files, written by `run.py`;
  *  - `ops`: comma-separated op names — declared query names, plus
  *    [[Main.LegacyOp]] and [[Main.StreamOp]];
  *  - `settle`: seconds of untimed passes between the cold pass and the
  *    warm phase (at least one pass);
  *  - `seed`, `seconds`, `trace` (0/1), `cores`, `plant` (op whose result
  *    is deliberately corrupted, for the checker's self-test).
  *
  * It prints `READY` once the session is up and the warm-up query ran,
  * then runs one cold pass over the ops, the settle passes, and a warm
  * phase of seeded-order passes for `seconds`. Every op's result is
  * reduced to an order-insensitive fingerprint; the first result seen
  * per fingerprint is written as parquet for the oracle compare done by
  * `run.py`. */
object Main {
  val LegacyOp = "legacy_wordcount"
  val StreamOp = "ingest_stream"
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = kv("cores").toInt
    val work = kv("work")
    val t0 = Clock.now
    val spark = Sessions.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = Clock.now
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.load(spark, kv("data"), "region").groupBy("r_name").count().collect()
    val t2 = Clock.now
    println("READY")
    System.out.flush()
    try new Runner(spark, kv, cores, Map("start_ms" -> (t1 - t0), "warmup_ms" -> (t2 - t1))).run()
    finally spark.stop()
  }
}

/** One op's outcome: timing, error, and result fingerprint. */
final case class OpOut(id: Int, name: String, phase: String, traced: Boolean,
                       ms: Double, err: Option[String], check: String, fp: String)

/** An op's result rows, its phase spans (name, start, end), the
  * intervals spent in query-builder calls, and what only some op kinds
  * have: the Catalyst phase times of the frames it built, its streams'
  * run ids, and bytes written per input byte. */
final case class Done(schema: StructType, rows: Array[Row],
                      phases: Seq[(String, Double, Double)],
                      builds: Seq[(Double, Double)],
                      catalyst: Map[String, Double] = Map.empty,
                      runIds: Seq[String] = Nil, bytesRatio: Option[Double] = None)

final class Runner(spark: SparkSession, kv: Map[String, String], cores: Int,
                   setup: Map[String, Double]) {
  import Main.{LegacyOp, StreamOp}

  private val sc = spark.sparkContext
  private val data = kv("data")
  private val work = kv("work")
  private val out = kv("out")
  private val opNames = kv("ops").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  private val seed = kv("seed").toLong
  private val seconds = kv("seconds").toDouble
  private val settleSeconds = kv("settle").toDouble
  private val trace = kv("trace") == "1"
  private val plant = kv.getOrElse("plant", "")
  private val queries = SparkEntry.queries
  private val families = SparkEntry.families

  private val jobs = new JobTracker
  private val streams = new StreamTracker
  private val executions = new ExecutionTracker
  private val tracer = new Tracer
  private val layer = new LayerStats
  private val outs = mutable.ArrayBuffer.empty[OpOut]
  private val firstResults = mutable.LinkedHashMap.empty[(String, String), (StructType, Array[Row])]
  private val heapSamples = mutable.ArrayBuffer.empty[Double]
  private var nextId = 0

  def run(): Unit = {
    val unknown = opNames.filterNot(n => queries.contains(n) || n == LegacyOp || n == StreamOp)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")
    // every run starts cold: no engine artifacts (IndexStore root,
    // format staging dirs, all named graft_*) in tmpdir, empty warehouse
    val leftovers = Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")) ++
      Option(new File(work, "warehouse").listFiles()).toSeq.flatten
    require(leftovers.isEmpty, s"run does not start cold: ${leftovers.mkString(", ")}")

    // cold pass: fresh session, empty IndexStore root, staging dirs and warehouse
    new Random(seed).shuffle(opNames).foreach(n => runOp(n, "cold", trace))
    val indexStore = dirStats(IndexStore.root)
    heapSamples += liveHeapMb()

    // untimed settle passes let JIT compilation settle before timing
    // starts: whole passes, at least one, until `settle` seconds have
    // passed. Without them the first warm passes run 20-30% slower than
    // later ones and set warm_p90_ms. The heap is read after the first
    // one, a fixed amount of work.
    val settleStart = Clock.now
    var settlePass = 0
    while (settlePass == 0 || Clock.now - settleStart < settleSeconds * 1000) {
      new Random(seed * 1000 - settlePass).shuffle(opNames)
        .foreach(n => runOp(n, "settle", traced = false))
      if (settlePass == 0) heapSamples += liveHeapMb()
      settlePass += 1
    }

    // warm phase: whole seeded-order passes, so every op weighs the same
    // in the percentiles; at least two, then more while the next one (at
    // the median pass time so far) still ends within the time budget. A
    // traced run traces passes in the order T U U T (repeated, whole
    // groups only): the traced minus the untraced passes is the tracing
    // overhead, measured in the same run with a linear drift cancelled.
    val warmStart = Clock.now
    val passMs = mutable.ArrayBuffer.empty[Double]
    def nextPassFits: Boolean = {
      val typical = passMs.sorted.apply(passMs.length / 2)
      Clock.now - warmStart + typical <= seconds * 1000
    }
    var pass = 1
    while (pass <= 2 || (trace && pass % 4 != 1) || nextPassFits) {
      val s = Clock.now
      new Random(seed * 1000 + pass).shuffle(opNames)
        .foreach(n => runOp(n, "warm", trace && pass % 4 <= 1))
      passMs += Clock.now - s
      pass += 1
    }
    val storage = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)

    val results = writeResults()
    val checks = outs.map(_.check).distinct
    writeJson("oracle_sql.json", checks.flatMap(c => SparkEntry.oracleSql.get(c).map(c -> _)).toMap)
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else layer.summary(outs.toSeq, cores) ++ Map(
        "SessionCaches.cached_rdds" -> storage.length.toDouble,
        "SessionCaches.cached_mb" -> storage.map(s => s.memSize + s.diskSize).sum / 1e6,
        "IndexStore.artifacts_written" -> indexStore._1.toDouble,
        "IndexStore.mb_written" -> indexStore._2 / 1e6,
        "Sessions.start_ms" -> setup("start_ms"),
        "Sessions.warmup_ms" -> setup("warmup_ms"))
    if (trace) writeSpans()
    writeJson("result.json", Map(
      "peak_live_heap_mb" -> heapSamples.max,
      "heap_samples_mb" -> heapSamples,
      "ops" -> outs,
      "results" -> results,
      "layers" -> layers))
  }

  private def familyOf(name: String): String =
    if (name == LegacyOp) "legacy" else if (name == StreamOp) "stream"
    else families.getOrElse(name, "other")

  /** Heap occupancy right after a full GC, in MB. Taken after a fixed
    * amount of work (the cold pass, the first settle pass), never after the
    * time-bounded warm phase, so it does not depend on machine speed.
    * At least three GCs, then more until two readings agree within
    * 0.5 MB: a GC's reference processing (ContextCleaner removing
    * broadcast and shuffle blocks, finished streams) frees more for the
    * next one, and the cleaner runs on its own thread. */
  private def liveHeapMb(): Double = {
    def gcUsed(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = gcUsed()
    var cur = gcUsed()
    var i = 0
    while ((i < 1 || math.abs(prev - cur) > 0.5) && i < 8) { prev = cur; cur = gcUsed(); i += 1 }
    cur
  }

  private def tracing(on: Boolean): Unit =
    if (on) {
      sc.addSparkListener(jobs)
      spark.streams.addListener(streams)
      spark.listenerManager.register(executions)
    } else {
      sc.removeSparkListener(jobs)
      spark.streams.removeListener(streams)
      spark.listenerManager.unregister(executions)
    }

  private def group(id: Int, phase: String): Unit =
    sc.setJobGroup(s"op$id/$phase", phase, interruptOnCancel = false)

  /** Runs `f` as a query-builder call: its jobs go to the op's `build`
    * group and its interval is recorded, then the job group returns to
    * `phase`. */
  private def building[T](id: Int, phase: String, builds: mutable.ArrayBuffer[(Double, Double)])(f: => T): T = {
    group(id, "build")
    val s = Clock.now
    try f finally {
      builds += ((s, Clock.now))
      group(id, phase)
    }
  }

  private def runOp(name: String, phase: String, traced: Boolean): Unit = {
    val id = nextId
    nextId += 1
    if (traced) tracing(on = true)
    val start = Clock.now
    val done: Either[String, Done] =
      try Right(name match {
        case LegacyOp => legacyRound(id)
        case StreamOp => ingestStream(id)
        case q => queryOp(id, queries(q))
      })
      catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(300))
      }
      finally sc.clearJobGroup()
    // an op ends when its last phase does; reading a stream's result
    // back for the check comes after that
    val end = done.map(_.phases.last._3).getOrElse(Clock.now)
    var err = done.left.toOption
    if (traced) {
      val runIds = done.toOption.map(_.runIds).getOrElse(Nil)
      if (!settle(id, runIds)) err = err.orElse(Some("listener did not settle"))
      done.foreach(d => layer.record(id, name, familyOf(name), phase, start, end, d,
        jobs, streams, executions.drain(), tracer))
      jobs.forget(s"op$id/")
      runIds.foreach { r => jobs.forget(r); streams.progress.remove(r) }
      tracing(on = false)
    }
    val check = name match {
      case LegacyOp => "wordcount_linefreq"
      case StreamOp => "ingest_dedup_fold"
      case q => q
    }
    outs += (done match {
      case Right(d) if err.isEmpty =>
        val rows = if (name == plant && d.rows.nonEmpty) d.rows.drop(1) else d.rows
        val fp = fingerprint(rows)
        firstResults.getOrElseUpdate((check, fp), (d.schema, rows))
        OpOut(id, name, phase, traced, end - start, None, check, fp)
      case _ => OpOut(id, name, phase, traced, end - start, err, check, "")
    })
  }

  /** Wait until every job started for op `id` (and for its streams) has
    * ended in the harness listener. Every job posts its start and end
    * events before the op returns, so once the listener bus is drained
    * nothing of this op can still be open; the loop only guards that. */
  private def settle(id: Int, runIds: Seq[String]): Boolean = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    def open = (jobs.jobsOf(s"op$id/") ++ runIds.flatMap(jobs.jobsOf)).exists(_.end.isNaN)
    ListenerBusAccess.drain(sc, 20000)
    while (open && System.nanoTime() < deadline) {
      Thread.sleep(5)
      ListenerBusAccess.drain(sc, 20000)
    }
    !open
  }

  private def materialize(df: DataFrame): Array[Row] = {
    val conv = CatalystTypeConverters.createToScalaConverter(df.schema)
    df.queryExecution.toRdd.map(_.copy()).collect().map(r => conv(r).asInstanceOf[Row])
  }

  /** Catalyst phase times summed over the frames an op built itself
    * (the plans of its actions come from the [[ExecutionTracker]]). */
  private def catalystOf(dfs: Seq[DataFrame]): Map[String, Double] =
    dfs.flatMap(_.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** One query-builder call plus full materialization. */
  private def queryOp(id: Int, fn: (SparkSession, String) => DataFrame): Done = {
    val t0 = Clock.now
    group(id, "build")
    val df = fn(spark, data)
    val t1 = Clock.now
    group(id, "plan")
    df.queryExecution.executedPlan
    val t2 = Clock.now
    group(id, "execute")
    val rows = materialize(df)
    val t3 = Clock.now
    Done(df.schema, rows, Seq(("build", t0, t1), ("plan", t1, t2), ("execute", t2, t3)),
      Seq((t0, t1)), catalystOf(Seq(df)))
  }

  /** The reference's own job: documents as legacy `key\tvalue` files,
    * WordCount through the map/shuffle/sort/reduce runner, its output
    * written in the same format and read back. */
  private def legacyRound(id: Int): Done = {
    val in = new File(work, "legacy/in").getAbsolutePath
    val outDir = new File(work, "legacy/out").getAbsolutePath
    val builds = mutable.ArrayBuffer.empty[(Double, Double)]
    val t0 = Clock.now
    group(id, "tsv_write")
    val docs = building(id, "tsv_write", builds)(Tables.load(spark, data, "documents")
      .select(col("doc_id").cast("string").as("key"), col("text").as("value")))
    TsvDataset.write(docs, in)
    val t1 = Clock.now
    group(id, "jobrunner")
    val counted = building(id, "jobrunner", builds)(
      JobRunner.run(spark, TsvDataset.read(spark, in), WordCountJob))
    TsvDataset.write(counted, outDir)
    val t2 = Clock.now
    group(id, "tsv_read")
    val back = building(id, "tsv_read", builds)(TsvDataset.read(spark, outDir))
    val rows = materialize(back)
    val t3 = Clock.now
    val schema = StructType(Seq(StructField("word", StringType), StructField("linefreq", LongType)))
    val typed = rows.map(r => Row(r.getString(0), r.getString(1).toLong))
    val written = dirStats(new File(in))._2 + dirStats(new File(outDir))._2
    val input = new File(data, "documents.parquet").length().toDouble
    Done(schema, typed, Seq(("tsv_write", t0, t1), ("jobrunner", t1, t2), ("tsv_read", t2, t3)),
      builds.toSeq, catalystOf(Seq(docs, counted, back)), bytesRatio = Some(written / input))
  }

  private val feedSchema =
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** One file-source ingest stream: seed the standing index with the
    * even-id corpus, then run the stream over the three feed batches. */
  private def ingestStream(id: Int): Done = {
    val base = new File(work, s"stream/op$id")
    val idx = new File(base, "idx").getAbsolutePath
    val acc = new File(base, "acc").getAbsolutePath
    val builds = mutable.ArrayBuffer.empty[(Double, Double)]
    val t0 = Clock.now
    group(id, "seed")
    val corpus = building(id, "seed", builds)(Tables.load(spark, data, "documents")
      .select("doc_id", "text").filter(col("doc_id") % 2 === 0))
    IngestDedup.seed(spark, corpus, idx, acc)
    val t1 = Clock.now
    group(id, "stream")
    val feed = building(id, "stream", builds)(spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", "1").option("recursiveFileLookup", "true").json(kv("feed")))
    val q = IngestDedup.start(spark, feed, idx, acc, new File(base, "ckpt").getAbsolutePath)
    try q.processAllAvailable() finally q.stop()
    val t2 = Clock.now
    sc.clearJobGroup()
    val rows = spark.read.parquet(acc).filter(col("batch") >= 0).select("doc_id").collect()
    deleteTree(base)
    Done(StructType(Seq(StructField("doc_id", LongType))), rows,
      Seq(("seed", t0, t1), ("stream", t1, t2)), builds.toSeq, runIds = Seq(q.runId.toString))
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (a, b) => render(a) + "->" + render(b) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.getClass.getSimpleName + ":" + x.toString
  }

  /** Order-insensitive content hash of a result. */
  private def fingerprint(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString + s"-${rows.length}"
  }

  /** Dump the first result seen per (oracle, fingerprint) as parquet. */
  private def writeResults(): Seq[Map[String, Any]] =
    firstResults.toSeq.zipWithIndex.map { case (((check, fp), (schema, rows)), k) =>
      val dir = new File(out, s"r$k").getAbsolutePath
      spark.createDataFrame(rows.toSeq.asJava, schema).repartition(1)
        .write.mode("overwrite").parquet(dir)
      Map("check" -> check, "fp" -> fp, "dir" -> dir)
    }

  private def writeSpans(): Unit = writeJson("spans.json", tracer.all)

  private def writeJson(name: String, v: Any): Unit =
    Main.json.writeValue(new File(out, name), v)

  /** (files named `_SUCCESS`, total bytes of regular files) under `root`. */
  private def dirStats(root: File): (Int, Long) =
    if (!root.exists()) (0, 0L)
    else {
      val files = Files.walk(root.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toList
      (files.count(_.getName == "_SUCCESS"), files.map(_.length).sum)
    }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
