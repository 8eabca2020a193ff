package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, crc32, lit, sum}

import graft.{SessionCaches, Tables}

/** The documents table staged once in another format, for the
  * round-trip sources: written under
  * `$java.io.tmpdir/graft_<kind>_<dir key>_<rows>_<crc32 sum of text>`,
  * so a regenerated fixture gets a fresh directory, and reused across
  * sessions once Spark's `_SUCCESS` marker is there. Memoized per
  * (session, corpus, kind). */
private[sources] object StagedCopy {

  /** The staged directory; `write(documents, path)` fills it on a miss. */
  def path(spark: SparkSession, dir: String, kind: String)
          (write: (DataFrame, String) => Unit): String =
    SessionCaches.memo(spark, "sources.staged", (dir, kind)) {
      import spark.implicits._
      val docs = Tables.load(spark, dir, "documents")
      val (n, fp) = docs.agg(count(lit(1)), sum(crc32(col("text"))))
        .as[(Long, Long)].head()
      val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val out = new File(sys.props("java.io.tmpdir"), s"graft_${kind}_${key}_${n}_$fp")
      if (!new File(out, "_SUCCESS").exists()) write(docs, out.getAbsolutePath)
      out.getAbsolutePath
    }
}
