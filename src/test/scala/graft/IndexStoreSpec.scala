package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Versioned-publish ordering and retention contracts of
  * [[IndexStore]]: generation order is the MONOTONIC `-v<seq>` number
  * claimed at publish, never a `_SUCCESS` mtime, so election and
  * retention are deterministic even when two publishes land in the same
  * filesystem-mtime tick, and portable to stores with unreliable mtime
  * semantics. */
class IndexStoreSpec extends AnyFunSuite with SharedSpark {

  private def tempCorpus(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_idxstore").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  private def publish(dir: String, kind: String, k: Int): File = {
    val df = IndexStore.writeVersioned(spark, dir, "documents", kind,
      spark.range(10).select(col("id"), lit(k).as("ver")))
    new File(new java.net.URI(df.inputFiles.head)).getParentFile
  }

  test("monotonic generations: publishes claim -v0, -v1, ...; election " +
    "and retention are deterministic inside one mtime tick (r15 verdict #2)") {
    val dir = tempCorpus(Seq((1L, "a b"), (2L, "c d")))
    val v0 = publish(dir, "spec_seq", 0)
    val v1 = publish(dir, "spec_seq", 1)
    assert(v0.getName.endsWith("-v0") && v1.getName.endsWith("-v1"),
      s"expected sequential generation names, got ${v0.getName}, ${v1.getName}")
    // force BOTH _SUCCESS markers into the same mtime tick — the
    // exact regime where mtime-keyed election was ambiguous
    val tick = 1755000000000L
    Seq(v0, v1).foreach(d => new File(d, "_SUCCESS").setLastModified(tick))
    val parent = v0.getParentFile
    val prefix = v0.getName.stripSuffix("0")
    assert(IndexStore.versionsAt(parent, prefix).map(_._1.getName) ==
      Seq(v1.getName, v0.getName),
      "same-tick election must order by parsed sequence, newest first")
    // retention under the same tick: keeps the numerically newest
    val survivors = IndexStore.expireVersionsAt(parent, prefix, keep = 1)
    assert(survivors.map(_.getName) == Seq(v1.getName))
    assert(!v0.exists() && v1.exists())
  }

  test("sequence claims skip claimed-but-unpublished directories") {
    val dir = tempCorpus(Seq((1L, "e f"), (2L, "g h")))
    val v0 = publish(dir, "spec_claim", 0)
    val parent = v0.getParentFile
    val prefix = v0.getName.stripSuffix("0")
    // a concurrent publisher has CLAIMED seq 1 but not yet published
    // (no _SUCCESS): the next publish must not collide with it
    val claimed = new File(parent, prefix + "1")
    assert(claimed.mkdirs())
    val v2 = publish(dir, "spec_claim", 2)
    assert(v2.getName == prefix + "2",
      s"publish must skip the claimed-but-unpublished seq, got ${v2.getName}")
    // the unpublished claim is invisible to election
    assert(IndexStore.versionsAt(parent, prefix).map(_._1.getName) ==
      Seq(v2.getName, v0.getName))
  }

  test("retention race guard: readers inside keep=2 complete, outside fail loudly") {
    import spark.implicits._
    val dir = tempCorpus(Seq((1L, "i j"), (2L, "k l")))
    def publishAndExpire(k: Int): File = {
      val v = publish(dir, "spec_race", k)
      IndexStore.expireVersions(spark, dir, "documents", "spec_race", keep = 2)
      v
    }
    val v0 = publishAndExpire(0)
    // reader holds a scan of generation 0
    val reader = spark.read.parquet(v0.getAbsolutePath)
    // one more publish: gen 0 is still inside keep=2 — the reader's
    // generation survives and the scan completes
    val v1 = publishAndExpire(1)
    assert(v0.exists())
    assert(reader.as[(Long, Int)].collect().toSet ==
      (0L until 10L).map((_, 0)).toSet)
    // second publish: gen 0 falls out of the newest-2 window and the
    // explicit expire deletes it UNCONDITIONALLY (no age guard: the
    // caller asserted its reader concurrency fits inside 2
    // generations). The held reader now fails loudly.
    val v2 = publishAndExpire(2)
    assert(!v0.exists() && v1.exists() && v2.exists(),
      "keep=2 must cut exactly the generations beyond the newest two")
    intercept[Exception] {
      spark.read.parquet(v0.getAbsolutePath).collect()
    }
  }
}
