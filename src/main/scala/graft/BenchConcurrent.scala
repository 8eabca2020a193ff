package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession

/** Multi-tenant bench: N concurrent query streams
  * over ONE session with the FAIR scheduler, at the same SF the serial
  * bench runs. Three passes, one JSON line:
  *
  *  1. `concurrent_cold_sec` — streams start on a COLD session, so the
  *     session-scoped memos (shingles, pairs, components, IVF sims,
  *     bigrams) are built under racing `computeIfAbsent` calls — the
  *     race the memo design claims is safe, exercised for real;
  *  2. `serial_warm_sec` — the same query list run serially on the
  *     now-warm session (the steady-state serial reference);
  *  3. `concurrent_warm_sec` — the same list split round-robin over N
  *     FAIR pools, warm. `speedup` = serial_warm / concurrent_warm:
  *     how much wall-clock N tenants save over queueing, with both
  *     sides enjoying the same warm caches (apples-to-apples).
  *
  * local[32] is one shared CPU budget, so speedup is bounded by how
  * much any single query UNDER-uses 32 cores (tail stages, small
  * shuffles, driver-side planning); the value measured is scheduling
  * headroom, not extra hardware. Errors from any stream fail loudly
  * into the JSON — the zero-error assertion is the artifact's point.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_STREAMS
  * (default 4), SPARK_GRAFT_BENCH_TIER (default shipping — the
  * quadratic audit baselines would serialize the whole run behind one
  * stream at sf1), SPARK_GRAFT_BENCH_OUT. */
object BenchConcurrent {

  /** Run `names` split round-robin across `streams` FAIR pools;
    * returns (wall seconds, per-query seconds, errors). */
  private def concurrentPass(spark: SparkSession, sfDir: String,
                             names: Seq[String], streams: Int)
      : (Double, Map[String, Double], Map[String, String]) = {
    val times = new ConcurrentLinkedQueue[(String, Double)]()
    val errors = new ConcurrentLinkedQueue[(String, String)]()
    val t0 = System.nanoTime()
    val threads = (0 until streams).map { i =>
      val mine = names.zipWithIndex.collect {
        case (n, j) if j % streams == i => n
      }
      new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"stream$i")
        mine.foreach { name =>
          val (secs, err) =
            Bench.timeQuery(spark, SparkEntry.queries(name), sfDir)
          times.add(name -> secs)
          err.foreach(e => errors.add(name -> e))
        }
      }, s"graft-stream-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    (wall, times.asScala.toMap, errors.asScala.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val streams = sys.env.getOrElse("SPARK_GRAFT_STREAMS", "4").toInt
    val tier = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIER", "shipping")
    val spark = Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Tables.load(spark, sfDir, "region").groupBy("r_name").count().collect()
    } catch { case _: Throwable => () }

    val names = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      tier match {
        case "shipping" => !Bench.AuditQueries(n)
        case "audit" => Bench.AuditQueries(n)
        case _ => true
      }
    }

    // pass 1: cold concurrent — memo builds race across streams
    val (coldSec, _, coldErrs) = concurrentPass(spark, sfDir, names, streams)
    // pass 2: warm serial reference
    val t0 = System.nanoTime()
    val serialErrs = names.flatMap { n =>
      Bench.timeQuery(spark, SparkEntry.queries(n), sfDir)._2.map(n -> _)
    }.toMap
    val serialSec = (System.nanoTime() - t0) / 1e9
    // pass 3: warm concurrent — the steady-state multi-tenant number
    val (warmSec, warmTimes, warmErrs) = concurrentPass(spark, sfDir, names, streams)

    val allErrs = (coldErrs.map { case (k, v) => s"cold:$k" -> v } ++
      serialErrs.map { case (k, v) => s"serial:$k" -> v } ++
      warmErrs.map { case (k, v) => s"warm:$k" -> v })
    val es = allErrs.map { case (k, v) => Bench.jstr(k) + ":" + Bench.jstr(v) }
      .mkString("{", ",", "}")
    val qs = warmTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => Bench.jstr(k) + ":" + v }.mkString("{", ",", "}")
    val speedup = if (warmSec > 0) serialSec / warmSec else -1.0
    val line = s"""{"metric":"concurrent","streams":$streams,"unit":"sec","concurrent_cold_sec":$coldSec,"serial_warm_sec":$serialSec,"concurrent_warm_sec":$warmSec,"speedup":$speedup,"n_queries":${names.size},"tier":${Bench.jstr(tier)},"errors":$es,"queries_warm_concurrent":$qs,"sf":"$sfDir"}"""
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_concurrent.json")
    try {
      val p = java.nio.file.Paths.get(out)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write $out: ${e.getMessage}") }
    spark.stop()
  }
}
