package graft.legacy

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.WordCount

/** The reference's user-job surface (`Job.java:19,31`): an arbitrary
  * `map(key, value) => (key, value)*` followed by a grouped
  * `reduce(key, values[]) => (key, value)*`, both over strings. */
trait GraftJob extends Serializable {
  def map(key: String, value: String, emit: (String, String) => Unit): Unit
  def reduce(key: String, values: Seq[String], emit: (String, String) => Unit): Unit
}

/** Runs a [[GraftJob]] with the reference's exact dataflow semantics —
  * map → shuffle by key → sort → group → reduce — expressed as the
  * scalable Spark equivalent of each phase (SURVEY.md §3):
  *
  *  - map fan-out (`MapThread.java:64-77`) → `mapPartitions` flatMap
  *    (one job instance per PARTITION, not per record — the reference's
  *    per-record `Class.forName(...).newInstance()` is an accidental
  *    cost, not a semantic);
  *  - SHA-1 shuffle routing (`WordCountContext.java:87-91`) →
  *    `repartition(n, key)`: same equal-keys-colocate contract;
  *  - external Unix `sort` + run-detection grouping
  *    (`WorkerServlet.java:450-495`) → `sortWithinPartitions(key, value)`
  *    + a streaming constant-memory run-detection iterator. Spark's
  *    UnsafeExternalSorter spills, so this survives groups and
  *    partitions far larger than memory — unlike collect-based
  *    `groupByKey`, only one group's VALUES need fit at once (the
  *    reference has the identical constraint: `ReduceThread.java:60-66`
  *    materializes the values array).
  *
  * Values arrive at `reduce` sorted ascending — exactly what the
  * reference's whole-line `sort` fallback comparison produces for its
  * `key\tvalue` lines.
  */
object JobRunner {

  def run(spark: SparkSession, input: DataFrame, job: GraftJob,
          numPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val n = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions

    val mapped: Dataset[(String, String)] =
      input.select(col("key").cast("string"), col("value").cast("string"))
        .as[(String, String)]
        .mapPartitions { it =>
          val out = ArrayBuffer.empty[(String, String)]
          val emit = (k: String, v: String) => { out += ((k, v)); () }
          it.flatMap { case (k, v) =>
            out.clear()
            job.map(k, v, emit)
            out.toList
          }
        }

    val reduced = mapped.toDF("key", "value")
      .repartition(n, col("key"))
      .sortWithinPartitions("key", "value")
      .as[(String, String)]
      .mapPartitions { it =>
        new Iterator[List[(String, String)]] {
          private val in = it.buffered
          def hasNext: Boolean = in.hasNext
          def next(): List[(String, String)] = {
            val key = in.head._1
            val values = ArrayBuffer.empty[String]
            while (in.hasNext && in.head._1 == key)
              values += in.next()._2
            val out = ArrayBuffer.empty[(String, String)]
            job.reduce(key, values.toSeq, (k, v) => { out += ((k, v)); () })
            out.toList
          }
        }.flatten
      }

    reduced.toDF("key", "value")
  }
}

/** The reference's one shipped job, byte-faithful to
  * `job/WordCount.java:14-53`: map counts words WITHIN a line via a
  * HashMap and emits one (word, lineCount) partial per distinct word;
  * reduce emits `values.length` — the number of partials (rows
  * containing the word), NOT their sum. */
object WordCountJob extends GraftJob {
  def map(key: String, value: String, emit: (String, String) => Unit): Unit = {
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // `value.split(" ")` (WordCount.java:26), with all empty tokens
    // dropped where Java drops only trailing ones (SURVEY.md §7)
    WordCount.words(value).foreach(w => counts.update(w, counts.getOrElse(w, 0) + 1))
    counts.foreach { case (w, c) => emit(w, c.toString) }
  }
  def reduce(key: String, values: Seq[String], emit: (String, String) => Unit): Unit =
    emit(key, values.length.toString) // WordCount.java:51 — count, not sum
}
