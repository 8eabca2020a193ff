package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds
  * (fractional), so harness spans and Spark's job/stage/batch times
  * share one clock. `parent` is -1 for an op's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Double, end: Double)

/** Epoch-millisecond clock with nanosecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Task counters summed over one job. */
final class TaskAgg {
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var peakExecMem = 0L
}

final class JobRec(val id: Int, val group: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  val agg = new TaskAgg
  val stagesRun = ArrayBuffer.empty[(Int, Double, Double)]
}

/** The harness's own listener, registered only for traced passes. Jobs
  * are attributed to ops through their job group, which the harness sets
  * to `op<id>/<phase>` around every phase (streams run under their
  * `runId` group, which the harness maps back to the op). */
final class JobTracker extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val rec = new JobRec(e.jobId, group, e.time.toDouble)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for {
      j <- Option(stageJob.get(si.stageId)).flatMap(id => Option(jobs.get(id)))
      s <- si.submissionTime
      c <- si.completionTime
    } j.synchronized { j.stagesRun += ((si.stageId, s.toDouble, c.toDouble)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    if (m != null) j.foreach { r =>
      r.agg.synchronized {
        val a = r.agg
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.inputRecords += m.inputMetrics.recordsRead
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def jobsOf(groupPrefix: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.group.startsWith(groupPrefix)).toSeq.sortBy(_.id)

  def forget(groupPrefix: String): Unit =
    jobsOf(groupPrefix).foreach(j => jobs.remove(j.id))
}

/** Micro-batch progress of the ingest streams, keyed by run id. */
final class StreamTracker extends StreamingQueryListener {
  val progress = new ConcurrentHashMap[String, ArrayBuffer[StreamingQueryListener.QueryProgressEvent]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val buf = progress.computeIfAbsent(e.progress.runId.toString, _ => ArrayBuffer.empty)
    buf.synchronized { buf += e }
  }
}

/** Catalyst phase times of every Dataset action (writes, eager
  * `count`/`collect` gates) completed while registered. Only one traced
  * op runs at a time and the harness drains the listener bus before the
  * next, so [[drain]] returns exactly that op's executions. */
final class ExecutionTracker extends QueryExecutionListener {
  private val phases = ArrayBuffer.empty[Map[String, Double]]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    phases.synchronized { phases += p }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): Seq[Map[String, Double]] = phases.synchronized {
    val all = phases.toList
    phases.clear()
    all
  }
}

/** In-memory span store of the traced run, written out at the end. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  def add(parent: Int, op: Int, name: String, start: Double, end: Double): Int =
    spans.synchronized {
      val id = spans.size
      spans += Span(id, parent, op, name, start, end)
      id
    }
  def all: Seq[Span] = spans.synchronized(spans.toList)
}
