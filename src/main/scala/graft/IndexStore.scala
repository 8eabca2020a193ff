package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one owner of every directory the engine writes and reads
  * back. A derived index (minhash bands, CC labels, PQ codebooks) held
  * in a per-session memo would be rebuilt from the corpus in each new
  * session; here it is written ONCE to a content-keyed directory and
  * every later session, cold or warm, reads it back. The same store
  * holds the round-trip sources' staged copies of the documents table,
  * the bucketed twins of orders and lineitem, and the
  * numbered-generation logs of the write-path queries.
  *
  * Keys: `<root>/<kind>_p<params crc>_<corpus>_<rows>_<fp>`, where the
  * fingerprint is a one-pass crc32 sum over each whole row of the
  * SOURCE table, memoized per (session, corpus, table). A changed
  * corpus therefore gets a fresh directory and a rebuild, while a
  * byte-identical corpus reuses the directory across sessions and JVMs.
  *
  * Writes are atomic: build into a `.tmp-<nonce>` staging directory,
  * rename into place, first writer wins (a loser deletes its copy and
  * reads the winner). A directory is reused only once its `_SUCCESS`
  * marker is there, never as a bare directory.
  *
  * The reference's closest analog is the worker's standing spool-dir
  * state surviving across jobs (`worker/WorkerServlet.java:283-302`);
  * this is that idea made columnar, content-addressed, and safe for
  * concurrent builders.
  */
object IndexStore {

  /** On-disk format version, folded into every directory key: bumping
    * it re-keys (and so rebuilds) every artifact after a
    * layout-incompatible change, instead of silently serving old-format
    * files to new readers. 2: staged copies live here and generation
    * names are numbers only. */
  val FormatVersion = 2

  /** Root for every stored directory (tmpdir keeps the gate's
    * no-writes-outside-the-repo contract; production points this at
    * object storage, which a cluster's executors must share). Scoped per
    * OS user: the system tmpdir is shared, and an unscoped root would
    * let one user's crashed builders (or a hostile sibling account)
    * collide with another's artifacts. */
  def root: File = {
    val user = sys.props.getOrElse("user.name", "anon")
      .replaceAll("[^A-Za-z0-9._-]", "_")
    new File(sys.props("java.io.tmpdir"), s"graft_index_$user")
  }

  /** Age past which a directory has no plausible live writer or reader:
    * a staging directory this old is a crashed build's leftover, and a
    * versioned artifact this old (beyond the newest [[RetentionKeep]])
    * is swept when its kind publishes again. */
  private val StaleAgeMs = 3600L * 1000

  /** Generations a retention cut keeps by default: the live one plus
    * one of handoff for in-flight readers. */
  val RetentionKeep = 2

  private def isStale(f: File): Boolean =
    f.lastModified() < System.currentTimeMillis() - StaleAgeMs

  /** A fresh staging directory for `name` under `parent`. */
  private def stagingDir(parent: File, name: String): File =
    new File(parent, s"$name.tmp-${java.util.UUID.randomUUID()}")

  /** A builder that crashes mid-write orphans its staging directory
    * (only the rename-loser path cleans up after itself). */
  private def sweepStaleTmpDirs(): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.getName.contains(".tmp-") && isStale(d))
      .foreach(deleteRecursively)

  /** (rows, crc32 content sum) of `$dir/$table.parquet` — the
    * staleness key. Reads the parquet directly (not Tables.load) so
    * the fingerprint is a pure scan with no balance() shuffle. */
  private def fingerprint(spark: SparkSession, dir: String,
                          table: String): (Long, Long) =
    SessionCaches.memo(spark, "indexStore.fingerprint", (dir, table)) {
      import spark.implicits._
      val df = spark.read.parquet(s"$dir/$table.parquet")
      // crc32 wants a string: fingerprint the row's json rendering —
      // any column's content change moves the sum
      df.agg(count(lit(1)), coalesce(sum(crc32(to_json(struct(
          df.columns.map(col).toIndexedSeq: _*)))), lit(0L)))
        .as[(Long, Long)].head()
    }

  /** The content-keyed directory for index `kind` derived from
    * (`dir`, `table`). `params` is the builder's ALGORITHM-parameter
    * fingerprint (e.g. "h=32,r=4,sh=8"): the key covers source content
    * AND the constants the artifact was built with, so changing a
    * MinHash/PQ/IVF constant re-keys and rebuilds instead of silently
    * reusing an incompatible artifact built under the old parameters.
    * [[FormatVersion]] rides the same slot. */
  def indexDir(spark: SparkSession, dir: String, table: String,
               kind: String, params: String = ""): File = {
    val (n, fp) = fingerprint(spark, dir, table)
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val pcrc = new java.util.zip.CRC32()
    pcrc.update(s"v$FormatVersion|$params".getBytes("UTF-8"))
    new File(root, s"${kind}_p${pcrc.getValue}_${key}_${n}_$fp")
  }

  private def isComplete(d: File): Boolean = new File(d, "_SUCCESS").exists()

  /** Number of artifact BUILDS this JVM has run (reads don't count) —
    * spec observability for "the second session read, not rebuilt". */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Artifact writes ride an AQE REBALANCE (guide §6 — sensible output
    * file sizing for anything you write): without it the artifact
    * inherits the builder's task count (32 near-empty files for a
    * 38k-row band index locally; thousands of small files from a wide
    * shuffle at scale), paying one commit round-trip per file on write
    * and one open per file on every later scan. The rebalance exchange
    * lets AQE coalesce to `advisoryPartitionSizeInBytes` chunks — one
    * file at test SFs, 64 MB-sized files at 100 TB — from the same
    * knob, no local-only constant. */
  private def sizedForWrite(df: DataFrame): DataFrame = df.hint("rebalance")

  /** Read the persisted index `kind` over (`dir`, `table`), building
    * and atomically publishing it on miss. The returned frame is a
    * plain parquet scan of the stored artifact — downstream plans see
    * a FileScan, never the builder's kernels. A session reads each
    * published artifact once: the frame, with its inferred schema and
    * file listing, is memoized on (artifact dir, `_SUCCESS` mtime), so
    * a warm call runs no schema-inference job and lists no files, and
    * an artifact deleted and rebuilt under the session is read afresh. */
  def getOrBuild(spark: SparkSession, dir: String, table: String,
                 kind: String, params: String = "")
                (build: => DataFrame): DataFrame = {
    val target = getOrBuildLayout(spark, dir, table, kind, params) { tmp =>
      val built = build
      sizedForWrite(built).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      // once written, the built frame's blocks (a checkpointed
      // resolution, say) are dead weight, unless a registry memo owns it
      if (!SessionCaches.valuesOf(spark).contains(built)) SessionCaches.free(built)
    }
    val path = target.getAbsolutePath
    SessionCaches.memo(spark, "indexStore.read",
        (path, new File(target, "_SUCCESS").lastModified())) {
      spark.read.parquet(path)
    }
  }

  /** Run `write` into the staging directory `tmp`, then mark it
    * complete with a TOP-LEVEL `_SUCCESS`: a builder that wrote nothing
    * still publishes, and the per-subdirectory markers Spark's writers
    * leave don't cover a whole layout (a crash between two subdirectory
    * writes must read as incomplete). */
  private def writeComplete(tmp: File)(write: File => Unit): Unit = {
    write(tmp)
    tmp.mkdirs()
    new File(tmp, "_SUCCESS").createNewFile(); ()
  }

  /** One lock per artifact directory: racing builders in this JVM wait
    * for the first one instead of each building a copy to throw away.
    * Builders in other JVMs still race, and the rename settles them. */
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** [[getOrBuild]] for artifacts with a CUSTOM directory layout (a
    * staged copy of the documents table, a bucketed twin, the ingest
    * store's per-batch partition dirs, a generation log): the builder
    * writes arbitrary content under a staging directory, publish is the
    * same atomic rename. Returns the artifact directory. */
  def getOrBuildLayout(spark: SparkSession, dir: String, table: String,
                       kind: String, params: String = "")
                      (write: File => Unit): File = {
    val target = indexDir(spark, dir, table, kind, params)
    if (!isComplete(target))
      buildLocks.computeIfAbsent(target.getPath, _ => new AnyRef).synchronized {
        if (!isComplete(target)) {
          sweepStaleTmpDirs()
          builds.incrementAndGet()
          val tmp = stagingDir(target.getParentFile, target.getName)
          writeComplete(tmp)(write)
          // first writer wins; a loser (a builder in another JVM or a
          // crashed run's leftover) just discards its copy and reads
          // the winner
          if (!tmp.renameTo(target) || !isComplete(target)) {
            if (isComplete(target)) deleteRecursively(tmp)
            else throw new IllegalStateException(s"index publish failed for $target")
          }
        }
      }
    target
  }

  // ---- numbered-generation logs ----
  // A log is the `<parent>/<prefix><n>` directories: `-v<n>` siblings of
  // a versioned artifact, `gen=<n>` partitions of a snapshot log. The
  // parsed number n is the one version order: `_SUCCESS` mtimes are not,
  // because coarse mtime granularity or clock skew across writers makes
  // two same-tick publishes ambiguous, and object stores guarantee
  // neither atomic rename nor mtime ordering.

  /** Every `<prefix><n>` entry under `parent` with its parsed number,
    * published or not: the one parser of numbered directory names (the
    * ingest stores' `batch=<n>` partitions use it too). */
  private[graft] def numbered(parent: File, prefix: String): Seq[(File, Long)] =
    Option(parent.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { d =>
      val n = d.getName
      if (n.startsWith(prefix)) n.substring(prefix.length).toLongOption.map(d -> _)
      else None
    }

  /** The log's published generations (those with `_SUCCESS`), newest
    * first: the one order every reader, retention cut and spec uses. */
  private[graft] def versionsAt(parent: File, prefix: String): Seq[(File, Long)] =
    numbered(parent, prefix).filter(v => isComplete(v._1)).sortBy(-_._2)

  /** Publish the log's next generation: `write` fills a dot-prefixed
    * staging directory (invisible to a partition-discovering read of
    * `parent` and to [[numbered]]), which then claims `<prefix><max+1>`
    * by atomic rename. A concurrent publisher that claimed the same
    * number first wins the rename; the loser re-scans and claims the
    * next, so every generation gets a unique number. Returns the
    * published directory and its number. */
  private[graft] def publishVersion(parent: File, prefix: String)
                                   (write: File => Unit): (File, Long) = {
    val tmp = stagingDir(parent, "." + prefix)
    writeComplete(tmp)(write)
    var out: (File, Long) = null
    while (out == null) {
      // claimed numbers count, published or not
      val next = (numbered(parent, prefix).map(_._2) :+ -1L).max + 1
      val target = new File(parent, prefix + next)
      if (tmp.renameTo(target)) out = (target, next)
      else if (!target.exists())
        throw new IllegalStateException(s"versioned publish failed for $target")
    }
    out
  }

  /** Drop every published generation of the log except the newest
    * `keep`, unconditionally: the caller asserts no reader holds an
    * expired one. An unmarked directory may be a write in progress and
    * is never touched. Safe by the publish invariant: every generation
    * is its own immutable directory, so no survivor shares files with
    * an expired one; a read of an expired generation's path fails
    * LOUDLY (the directory is gone), never as silently-wrong data.
    * Returns the survivors, newest first. */
  private[graft] def expireVersionsAt(parent: File, prefix: String,
                                      keep: Int): Seq[File] = {
    require(keep >= 1,
      s"retention must keep at least one version, got keep=$keep")
    val (kept, expired) = versionsAt(parent, prefix).map(_._1).splitAt(keep)
    expired.foreach(deleteRecursively)
    kept
  }

  /** Write `df` as the next `-v<n>` generation of `kind`'s versioned
    * artifact and return a scan of the written copy. Used by
    * refresh-style queries that must demonstrate the write path, where
    * overwriting the shared standing artifact in place would race.
    * Callers that size their own output (index_compact's deliberate
    * repartition) pass `sizeForWrite = false`. */
  def writeVersioned(spark: SparkSession, dir: String, table: String,
                     kind: String, df: DataFrame, params: String = "",
                     sizeForWrite: Boolean = true): DataFrame = {
    val base = indexDir(spark, dir, table, kind, params)
    val (parent, prefix) = (base.getParentFile, base.getName + "-v")
    // bound accumulation: sweep older generations, but NEVER the newest
    // [[RetentionKeep]]: age alone is not a safe signal (a query stream
    // can scan one version for longer than any fixed window at
    // audit-tier SFs, and deleting a scanned version fails its FileScan
    // mid-task). The newest two give every reader a full handoff
    // generation; older-than-an-hour ones have no plausible reader left.
    versionsAt(parent, prefix).drop(RetentionKeep)
      .filter(v => isStale(new File(v._1, "_SUCCESS")))
      .foreach(v => deleteRecursively(v._1))
    val sized = if (sizeForWrite) sizedForWrite(df) else df
    val (out, _) = publishVersion(parent, prefix) { tmp =>
      sized.write.mode("overwrite").parquet(tmp.getAbsolutePath)
    }
    spark.read.parquet(out.getAbsolutePath)
  }

  /** EXPLICIT retention for [[writeVersioned]] artifacts, the one
    * retention verb: [[writeVersioned]]'s write-time sweep only fires
    * when the SAME kind publishes again and never touches versions
    * younger than an hour, so a retired query stream's versions (or a
    * burst of publishes) accumulate until someone expires them. Keeps
    * the newest `keep` ([[expireVersionsAt]]'s contract). Returns the
    * survivors, newest first. */
  def expireVersions(spark: SparkSession, dir: String, table: String,
                     kind: String, keep: Int = RetentionKeep,
                     params: String = ""): Seq[File] = {
    val base = indexDir(spark, dir, table, kind, params)
    expireVersionsAt(base.getParentFile, base.getName + "-v", keep)
  }

  /** The one recursive delete of the engine's stored directories. */
  private[graft] def deleteRecursively(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRecursively)
    f.delete(); ()
  }
}
