package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents

/** [[Fixpoint.iterate]]'s contract: when a loop stops, what it frees,
  * and that the round's flag is read without waiting on listeners. */
class FixpointSpec extends AnyFunSuite with SharedSpark {

  private def persistentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Each round lowers every positive k by one; it changed something
    * while some k dropped. */
  private def countdown(state: DataFrame): (DataFrame, Column) =
    (state.select(greatest(col("k") - 1, lit(0L)).as("k"), col("k").as("prev")),
      max(col("k") < col("prev")))

  private def ks(values: Long*): DataFrame = {
    import spark.implicits._
    values.toDF("k")
  }

  test("an empty input converges in one round and returns an empty frame") {
    val (out, rounds, converged) =
      Fixpoint.iterate(ks().filter(col("k") > 0), maxIters = 5)(r => countdown(r.state))
    assert(converged && rounds == 1)
    assert(out.count() == 0)
    SessionCaches.free(out)
    import spark.implicits._
    assert(ConnectedComponents.resolve(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
      .count() == 0)
  }

  test("a first round that changes nothing stops after one round") {
    val (out, rounds, converged) =
      Fixpoint.iterate(ks(0, 0, 0), maxIters = 5)(r => countdown(r.state))
    assert(converged && rounds == 1)
    SessionCaches.free(out)
    // three rounds of change, then one that confirms the fixpoint
    val (down, n, ok) = Fixpoint.iterate(ks(3, 1), maxIters = 10)(r => countdown(r.state))
    assert(ok && n == 4)
    assert(down.collect().map(_.getLong(0)).toSeq == Seq(0L, 0L))
    SessionCaches.free(down)
  }

  test("a loop cut at maxIters keeps only its last state; both CC modes free it and throw") {
    val before = persistentIds()
    val (last, rounds, converged) =
      Fixpoint.iterate(ks(5), maxIters = 2)(r => countdown(r.state))
    assert(!converged && rounds == 2)
    assert(last.collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert((persistentIds() -- before).size == 1, "a superseded round outlived its successor")
    SessionCaches.free(last)
    assert((persistentIds() -- before).isEmpty)

    import spark.implicits._
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val propagation = intercept[IllegalStateException](
      ConnectedComponents.resolve(chain, "a", "b", maxIters = 3))
    assert(propagation.getMessage == "connected components did not converge in 3 rounds")
    val alternating = intercept[IllegalStateException](
      ConnectedComponents.resolveAlternating(chain, "a", "b", maxIters = 1))
    assert(alternating.getMessage ==
      "alternating connected components did not converge in 1 rounds")
    assert((persistentIds() -- before).isEmpty, "an unconverged resolution left blocks behind")
  }

  test("the one-hop seed: a component of diameter d resolves in d rounds") {
    import spark.implicits._
    // a 4-clique plus a disjoint edge: diameter 1, so the seed is the fixpoint
    val clique = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)) :+ ((10L, 11L))
    val labels = ConnectedComponents.resolve(clique.toDF("a", "b"), "a", "b", maxIters = 1)
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    SessionCaches.free(labels)
    for (d <- Seq(2, 5)) {
      // a path 0 - 1 - ... - d: the far end is d hops from the min id
      val path = (0L until d.toLong).map(i => (i + 1, i)).toDF("a", "b")
      val ok = ConnectedComponents.resolve(path, "a", "b", maxIters = d)
      assert(ok.as[(Long, Long)].collect().toMap == (0L to d.toLong).map(_ -> 0L).toMap)
      SessionCaches.free(ok)
      val short = intercept[IllegalStateException](
        ConnectedComponents.resolve(path, "a", "b", maxIters = d - 1))
      assert(short.getMessage == s"connected components did not converge in ${d - 1} rounds")
    }
  }

  test("reliable mode deletes superseded rounds' files and restores the checkpoint dir") {
    def rddDirs(root: Path): Long =
      Files.walk(root).filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-")).count()
    val dir = Files.createTempDirectory("graft_fixpoint_ckpt")
    val prior = org.apache.spark.graft.CheckpointDirAccessor.get(spark.sparkContext)
    try {
      val (out, rounds, converged) =
        Fixpoint.iterate(ks(4, 2), maxIters = 10, Some(dir.toString)) { r =>
          // a round-scoped intermediate, freed with the round
          countdown(r.checkpoint(r.state))
        }
      assert(converged && rounds == 5)
      assert(org.apache.spark.graft.CheckpointDirAccessor.get(spark.sparkContext) == prior,
        "iterate leaked its checkpoint dir into the shared session")
      assert(rddDirs(dir) == 1, "only the returned state's files may remain")
      SessionCaches.free(out)
      assert(rddDirs(dir) == 0, "free left the returned state's files behind")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the round's flag is read without waiting on query-execution listeners") {
    import spark.implicits._
    // diameter 2: one round of change and one that confirms
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    SessionCaches.free(ConnectedComponents.resolve(edges, "a", "b")) // warm
    val slow = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = Thread.sleep(1000)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(slow)
    try {
      val t0 = System.nanoTime()
      val labels = ConnectedComponents.resolve(edges, "a", "b")
      val secs = (System.nanoTime() - t0) / 1e9
      assert(labels.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      SessionCaches.free(labels)
      assert(secs < 2.0, f"a 2-round resolve took $secs%.2f s behind a 1 s listener")
    } finally spark.listenerManager.unregister(slow)
  }
}
