package graft

import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, FutureTask}
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one registry for state the engine creates per session: plans,
  * persisted and checkpointed frames, Bloom broadcasts, trained
  * quantizers and corpus scalars, each memoized
  * under (session, family, key). Reuse across one session's queries is
  * the design; [[release]] is the one teardown call, and a listener
  * drops a context's entries when that context stops.
  *
  * Entries are immutable for a session's lifetime: the engine's inputs
  * are read-only, so a (dir, table) pair never changes under a memo. A
  * session that rewrites a path it already read calls [[release]].
  *
  * Keys hold their session strongly, so garbage collection never drops
  * an entry: a caller done with a session calls [[release]], or stops
  * its context. */
object SessionCaches {

  private type Key = (SparkSession, String, Any)

  private val entries = new ConcurrentHashMap[Key, FutureTask[Any]]()
  private val builds = new ConcurrentHashMap[String, LongAdder]()
  private val listeners = new ConcurrentHashMap[SparkContext, SparkListener]()

  /** `build`'s value, built once per (session, family, key). A hit is
    * one lock-free map read. A miss publishes a task and runs it
    * outside the map's lock, so builds may nest (a memo whose build
    * reads other memos) and racing callers wait on the task, not the
    * map. A failed build leaves no entry: every waiter sees its error
    * and the next call builds afresh. */
  def memo[V](spark: SparkSession, family: String, key: Any)(build: => V): V = {
    val k: Key = (spark, family, key)
    var task = entries.get(k)
    if (task == null) {
      val call: Callable[Any] = () => build
      val mine = new FutureTask[Any](call)
      task = entries.putIfAbsent(k, mine)
      if (task == null) {
        task = mine
        watch(spark.sparkContext)
        builds.computeIfAbsent(family, _ => new LongAdder).increment()
        mine.run()
      }
    }
    try task.get().asInstanceOf[V]
    catch {
      case e: ExecutionException =>
        entries.remove(k, task)
        throw e.getCause
    }
  }

  /** The persist policy for frames the engine reuses: MEMORY_AND_DISK,
    * so Spark evicts blocks under pressure and a memo bounds the cache
    * at one entry per key as a ceiling, not a pin. */
  def persist[T](ds: Dataset[T]): Dataset[T] = ds.persist(StorageLevel.MEMORY_AND_DISK)

  /** [[memo]] of a [[persist]]ed frame (materialized by its first
    * action). */
  def persisted(spark: SparkSession, family: String, key: Any)
               (build: => DataFrame): DataFrame =
    memo(spark, family, key)(persist(build))

  /** Free a frame's blocks: unpersist it and, when it is a
    * (local)checkpointed frame, the checkpoint RDD under its
    * `LogicalRDD` — `Dataset.unpersist()` alone leaves that RDD in
    * `getPersistentRDDs` — and a reliable checkpoint's files. The frame
    * must not be read afterwards. */
  def free(df: Dataset[_]): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case lr: LogicalRDD =>
        lr.rdd.unpersist()
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new Path(f)
          p.getFileSystem(lr.rdd.context.hadoopConfiguration).delete(p, true)
        }
      case _ => ()
    }
  }

  /** Drop every entry of `spark` and free what it holds: cached and
    * checkpointed frames (see [[free]]) and broadcasts. A frame whose
    * cache another session's live entry shares (Spark's cache matches
    * equal plans across sessions) keeps its blocks. */
  def release(spark: SparkSession): Unit = {
    val mine = drop(_._1 eq spark).flatMap(valueOf).flatMap(resources)
    val kept = values(_ => true).flatMap(resources)
      .collect { case ds: Dataset[_] => ds.queryExecution.analyzed }
    mine.foreach {
      case b: Broadcast[_] => b.destroy()
      case ds: Dataset[_] =>
        if (!kept.exists(_.sameResult(ds.queryExecution.analyzed))) free(ds)
    }
  }

  /** Entries held for `spark`. */
  def entryCount(spark: SparkSession): Int = valuesOf(spark).size

  private[graft] def valuesOf(spark: SparkSession): Seq[Any] = values(_._1 eq spark)

  /** Builds started for `family` since the JVM started. */
  private[graft] def buildCount(family: String): Long =
    Option(builds.get(family)).fold(0L)(_.sum())

  /** The listener that drops `sc`'s entries when the context stops. */
  private[graft] def stopListener(sc: SparkContext): SparkListener = listeners.get(sc)

  private def watch(sc: SparkContext): Unit =
    if (!listeners.containsKey(sc)) {
      val l = new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          // the context is going away with its blocks: drop, don't free
          drop(_._1.sparkContext eq sc)
          listeners.remove(sc); ()
        }
      }
      if (listeners.putIfAbsent(sc, l) == null) sc.addSparkListener(l)
    }

  private def drop(p: Key => Boolean): Seq[FutureTask[Any]] = {
    val out = Seq.newBuilder[FutureTask[Any]]
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { out += e.getValue; it.remove() }
    }
    out.result()
  }

  private def values(p: Key => Boolean): Seq[Any] = {
    val out = Seq.newBuilder[Any]
    entries.forEach((k, t) => if (p(k)) valueOf(t).foreach(out += _))
    out.result()
  }

  /** A finished, successful build's value; in-flight builds are skipped. */
  private def valueOf(t: FutureTask[Any]): Option[Any] =
    if (!t.isDone) None
    else try Some(t.get()) catch { case _: ExecutionException => None }

  /** The frames and broadcasts an entry's value holds; tuples and
    * collections are walked. */
  private def resources(v: Any): Seq[AnyRef] = v match {
    case ds: Dataset[_] => Seq(ds)
    case b: Broadcast[_] => Seq(b)
    case p: Product => p.productIterator.flatMap(resources).toSeq
    case xs: Iterable[_] => xs.iterator.flatMap(resources).toSeq
    case _ => Nil
  }
}
