package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What the traced run learned about one op. `buildMs`/`buildSelf` are
  * the query-builder calls (with and without their eager jobs), `gap`
  * the driver time outside building and planning when no job ran. */
final case class OpTrace(name: String, family: String, phase: String, wall: Double,
                         spans: Map[String, Double], buildSelf: Double, buildJobs: Int,
                         planSelf: Double, gap: Double, jobs: Int, stages: Int,
                         agg: TaskAgg, catalyst: Map[String, Double],
                         batches: Seq[Map[String, Double]], bytesRatio: Option[Double])

/** Builds each traced op's span tree (op, then its phases, the
  * query-builder calls inside them, the jobs under the span that started
  * them, their stages, and a stream's micro-batches) and reduces the
  * traced ops to the per-layer metrics. */
final class LayerStats {
  private val traces = mutable.ArrayBuffer.empty[OpTrace]

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def record(id: Int, name: String, family: String, phase: String, start: Double, end: Double,
             d: Done, jobs: JobTracker, streams: StreamTracker,
             executions: Seq[Map[String, Double]], tracer: Tracer): Unit = {
    val root = tracer.add(-1, id, s"op:$name", start, end)
    val agg = new TaskAgg
    def addJob(parent: Int, j: JobRec): Unit = {
      val jid = tracer.add(parent, id, s"job ${j.id}", j.start, j.end)
      j.synchronized(j.stagesRun.toList).foreach { case (st, ss, se) =>
        tracer.add(jid, id, s"stage $st", ss, se)
      }
      j.agg.synchronized {
        agg.tasks += j.agg.tasks; agg.taskMs += j.agg.taskMs
        agg.cpuNs += j.agg.cpuNs; agg.gcMs += j.agg.gcMs
        agg.shuffleWriteBytes += j.agg.shuffleWriteBytes; agg.spillBytes += j.agg.spillBytes
        agg.inputRecords += j.agg.inputRecords
        agg.peakExecMem = math.max(agg.peakExecMem, j.agg.peakExecMem)
      }
    }
    val buildJobs = jobs.jobsOf(s"op$id/build")
    val phaseSpan = d.phases.map { case (ph, s, e) => ph -> tracer.add(root, id, ph, s, e) }.toMap
    // a build interval nests under the phase that contains it; a query
    // op's build phase is its own single build interval
    val buildSpans = d.builds.map { case (s, e) =>
      d.phases.find { case (ph, ps, pe) => ps <= s && e <= pe } match {
        case Some(("build", _, _)) => (phaseSpan("build"), s, e)
        case Some((ph, _, _)) => (tracer.add(phaseSpan(ph), id, "build", s, e), s, e)
        case None => (tracer.add(root, id, "build", s, e), s, e)
      }
    }
    buildJobs.foreach { j =>
      addJob(buildSpans.find { case (_, s, e) => s <= j.start && j.start <= e }.map(_._1)
        .getOrElse(root), j)
    }
    val phaseJobs = d.phases.map { case (ph, _, _) =>
      val js = jobs.jobsOf(s"op$id/$ph") ++ (if (ph == "stream") d.runIds.flatMap(jobs.jobsOf) else Nil)
      js.foreach(addJob(phaseSpan(ph), _))
      ph -> js
    }.toMap
    val batches = d.runIds.flatMap { r =>
      Option(streams.progress.get(r)).toSeq.flatMap(buf => buf.synchronized(buf.toList)).map { ev =>
        val p = ev.progress
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
        val bs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        tracer.add(phaseSpan("stream"), id, s"batch ${p.batchId}", bs,
          bs + dur.getOrElse("triggerExecution", 0.0))
        dur
      }
    }
    val jobIv = (buildJobs ++ phaseJobs.values.flatten).map(j => (j.start, j.end))
    val buildMs = d.builds.map { case (s, e) => e - s }.sum
    val planMs = d.phases.collect { case ("plan", s, e) => e - s }.sum
    val execJobs = phaseJobs.collect { case (ph, js) if ph != "plan" => js }.flatten
      .map(j => (j.start, j.end)).toSeq
    val catalyst = (d.catalyst +: executions).flatten.groupMapReduce(_._1)(_._2)(_ + _)
    traces += OpTrace(name, family, phase, end - start,
      d.phases.map { case (ph, s, e) => ph -> (e - s) }.toMap,
      buildSelf = buildMs - union(buildJobs.map(j => (j.start, j.end)), start, end),
      buildJobs = buildJobs.size,
      planSelf = planMs - union(phaseJobs.getOrElse("plan", Nil).map(j => (j.start, j.end)), start, end),
      gap = (end - start) - buildMs - planMs - union(execJobs, start, end),
      jobs = jobIv.size,
      stages = (buildJobs ++ phaseJobs.values.flatten).map(j => j.synchronized(j.stagesRun.size)).sum,
      agg = agg, catalyst = catalyst, batches = batches, bytesRatio = d.bytesRatio)
  }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer metrics: means per op over the traced warm ops (the
    * traced cold pass when no warm op was traced). */
  def summary(outs: Seq[OpOut], cores: Int): Map[String, Double] = {
    val warm = traces.filter(_.phase == "warm").toSeq
    val ts = if (warm.nonEmpty) warm else traces.toSeq
    val legacy = ts.filter(_.spans.contains("jobrunner"))
    val streamOps = ts.filter(_.spans.contains("stream"))
    val totalJobs = ts.map(_.jobs).sum
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("trace.ops") = ts.size
    m("op.wall_ms") = mean(ts.map(_.wall))
    m("op.self_ms") = mean(ts.map(t => t.wall - t.spans.values.sum))
    m("build.self_ms") = mean(ts.map(_.buildSelf))
    m("build.jobs") = mean(ts.map(_.buildJobs.toDouble))
    m("plan.self_ms") = mean(ts.map(_.planSelf))
    m("driver.gap_ms") = mean(ts.map(_.gap))
    m("driver.gap_ms_per_job") = ts.map(_.gap).sum / math.max(1, totalJobs)
    m("exec.jobs") = mean(ts.map(_.jobs.toDouble))
    m("exec.stages") = mean(ts.map(_.stages.toDouble))
    m("exec.tasks") = mean(ts.map(_.agg.tasks.toDouble))
    m("exec.tasks_per_job") = ts.map(_.agg.tasks).sum.toDouble / math.max(1, totalJobs)
    m("exec.task_ms") = mean(ts.map(_.agg.taskMs.toDouble))
    m("exec.cpu_ms") = mean(ts.map(_.agg.cpuNs / 1e6))
    m("exec.gc_ms") = mean(ts.map(_.agg.gcMs.toDouble))
    m("exec.slot_busy_ratio") = ts.map(_.agg.taskMs).sum / math.max(1.0, ts.map(_.wall).sum * cores)
    m("exec.shuffle_write_mb") = mean(ts.map(_.agg.shuffleWriteBytes / 1e6))
    m("exec.spill_mb") = mean(ts.map(_.agg.spillBytes / 1e6))
    m("exec.input_records") = mean(ts.map(_.agg.inputRecords.toDouble))
    m("exec.peak_exec_mem_mb") = if (ts.isEmpty) 0.0 else ts.map(_.agg.peakExecMem).max / 1e6
    for (ph <- Seq("analysis", "optimization", "planning"))
      m(s"catalyst.${ph}_ms") = mean(ts.map(_.catalyst.getOrElse(ph, 0.0)))
    val bs = streamOps.flatMap(_.batches)
    m("streaming.batches") = mean(streamOps.map(_.batches.size.toDouble))
    m("streaming.batch_ms") = mean(bs.map(_.getOrElse("triggerExecution", 0.0)))
    m("streaming.add_batch_ms") = mean(bs.map(_.getOrElse("addBatch", 0.0)))
    m("streaming.query_planning_ms") = mean(bs.map(_.getOrElse("queryPlanning", 0.0)))
    m("streaming.wal_commit_ms") = mean(bs.map(_.getOrElse("walCommit", 0.0)))
    m("legacy.tsv_write_ms") = mean(legacy.map(_.spans("tsv_write")))
    m("legacy.jobrunner_ms") = mean(legacy.map(_.spans("jobrunner")))
    m("legacy.tsv_read_ms") = mean(legacy.map(_.spans("tsv_read")))
    m("legacy.bytes_written_per_input_byte") = mean(legacy.flatMap(_.bytesRatio))
    for (f <- LayerStats.Families) {
      val fs = ts.filter(_.family == f)
      m(s"family.$f.wall_ms") = mean(fs.map(_.wall))
      m(s"family.$f.jobs") = mean(fs.map(_.jobs.toDouble))
    }
    // cold minus warm time over the same ops (traced or not)
    val ok = outs.filter(_.err.isEmpty)
    val warmMedian = ok.filter(_.phase == "warm").groupBy(_.name)
      .map { case (n, xs) => n -> LayerStats.median(xs.map(_.ms)) }
    m("SessionCaches.first_call_excess_s") =
      ok.filter(o => o.phase == "cold" && warmMedian.contains(o.name))
        .map(o => o.ms - warmMedian(o.name)).sum / 1000
    // tracing overhead: traced vs untraced warm passes, per op name
    val pairs = ok.filter(_.phase == "warm").groupBy(_.name).values.flatMap { xs =>
      val (t, u) = xs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some((mean(t.map(_.ms)), mean(u.map(_.ms))))
    }
    m("trace.overhead_ms_per_op") = mean(pairs.map { case (t, u) => t - u })
    m("trace.overhead_pct") =
      if (pairs.isEmpty) 0.0 else 100 * (pairs.map(_._1).sum / pairs.map(_._2).sum - 1)
    m.toMap
  }
}

object LayerStats {
  val Families = Seq("sql", "relational", "dedup", "indexed", "ann", "text", "corpus")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
