package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, fingerprint-keyed index artifacts — the storage layer
  * under the engine's "standing index" posture. A derived index
  * (minhash band index, CC labels, PQ codebooks/codes) held in a
  * per-session memo would be rebuilt from the corpus in each new
  * session — the one thing the 100 TB docstrings say production never
  * does. In this store an index is written ONCE to a
  * content-fingerprinted parquet directory and every later session
  * (cold or warm) reads it back instead of recomputing.
  *
  * Keying follows [[graft.sources.OrcSource]]'s staging-dir pattern:
  * `graft_index/<kind>_<sanitized corpus dir>_<rows>_<fingerprint>`,
  * where the fingerprint is a one-pass crc32 content sum over the
  * SOURCE table — regenerated fixtures (or a changed corpus) therefore
  * get a fresh directory and a rebuild, while a byte-identical corpus
  * reuses the artifact across sessions and JVMs. The fingerprint pass
  * is a cheap narrow scan (no shingling, no signature kernels) and is
  * memoized per (session, corpus, table).
  *
  * Writes are atomic: build into `<dir>.tmp-<nonce>`, rename into
  * place, first writer wins (a concurrent loser deletes its tmp dir
  * and reads the winner) — so concurrent sessions or FAIR-pool query
  * streams can race getOrBuild safely. Reuse across sessions is gated
  * on Spark's `_SUCCESS` marker, never on a bare directory.
  *
  * The reference's closest analog is the worker's standing spool-dir
  * state surviving across jobs (`worker/WorkerServlet.java:283-302`);
  * this is that idea made columnar, content-addressed, and safe for
  * concurrent builders.
  */
object IndexStore {

  /** On-disk artifact format version, folded into every directory key:
    * bumping it re-keys (and so rebuilds) every artifact after a
    * layout-incompatible change, instead of silently serving old-format
    * parquet to new readers. */
  val FormatVersion = 1

  /** Root for all persisted index artifacts (tmpdir keeps the gate's
    * no-writes-outside-the-repo contract; production points this at
    * object storage). Scoped per OS user: the system tmpdir is shared,
    * and an unscoped root would let one user's crashed builders (or a
    * hostile sibling account) collide with another's artifacts. */
  def root: File = {
    val user = sys.props.getOrElse("user.name", "anon")
      .replaceAll("[^A-Za-z0-9._-]", "_")
    new File(sys.props("java.io.tmpdir"), s"graft_index_$user")
  }

  /** Sweep leftover `*.tmp-*` staging directories older than this. A
    * builder that crashes mid-write orphans its staging dir (only the
    * rename-loser path cleans up after itself); anything this stale is
    * certainly not a live concurrent build. */
  private val TmpSweepAgeMs = 3600L * 1000

  private def sweepStaleTmpDirs(): Unit = {
    val kids = root.listFiles()
    if (kids != null) kids
      .filter(d => d.getName.contains(".tmp-") &&
        d.lastModified() < System.currentTimeMillis() - TmpSweepAgeMs)
      .foreach(deleteRecursively)
  }

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

  /** [[getOrBuild]] for artifacts with a CUSTOM directory layout (the
    * streaming ingest store's per-batch partition dirs): the builder
    * writes arbitrary content under a staging directory, publish is
    * the same atomic rename, and completeness is a TOP-LEVEL
    * `_SUCCESS` marker written here after the builder returns (the
    * per-subdirectory markers Spark's writers leave don't cover the
    * whole layout — a crash between two subdir writes must read as
    * incomplete). Returns the artifact directory. */
  def getOrBuildLayout(spark: SparkSession, dir: String, table: String,
                       kind: String, params: String = "")
                      (write: File => Unit): File = {
    val target = indexDir(spark, dir, table, kind, params)
    if (!isComplete(target)) {
      sweepStaleTmpDirs()
      builds.incrementAndGet()
      val tmp = new File(target.getParentFile,
        target.getName + ".tmp-" + java.util.UUID.randomUUID())
      write(tmp)
      tmp.mkdirs() // a builder that wrote nothing still publishes
      new File(tmp, "_SUCCESS").createNewFile()
      // first writer wins; a loser (concurrent builder or a crashed
      // run's leftover) just discards its copy and reads the winner
      if (!tmp.renameTo(target) || !isComplete(target)) {
        if (isComplete(target)) deleteRecursively(tmp)
        else throw new IllegalStateException(
          s"index publish failed for $target")
      }
    }
    target
  }

  /** Opt-in autoexpire for [[writeVersioned]]: when set, every
    * versioned publish retains only the newest N generations — the
    * production ingest loop's retention rides the publish instead of a
    * remembered nightly `index_expire`. OFF by
    * default (None) for two deliberate reasons: (1) the certified
    * board's version-accumulation behavior stays byte-identical, and
    * (2) unconditional newest-N expiry at publish time can delete a
    * generation an OLDER concurrent reader is still scanning (the race
    * the write-time sweep's one-hour guard exists for) —
    * a deployment that sets `SPARK_GRAFT_INDEX_RETAIN=N` asserts its
    * reader concurrency fits inside N generations, exactly the
    * [[expireVersions]] caller contract moved onto the publish path. */
  val RetentionDefault: Option[Int] =
    sys.env.get("SPARK_GRAFT_INDEX_RETAIN").map(_.toInt)

  /** Write `df` as a fresh versioned artifact under `kind`'s name
    * (monotonic `-v<seq>` generation per call, claimed by atomic
    * rename — safe under concurrent query streams)
    * and return a scan of the written copy. Used by refresh-style
    * queries that must demonstrate the write-path, where overwriting
    * the shared standing artifact in place would race. With `retain`
    * set (explicitly or via [[RetentionDefault]]), the publish
    * autoexpires to the newest `retain` generations — the just-written
    * version is the newest, so readers of the newest N stay live. */
  /** Parsed generation number of a `<prefix><seq>` version directory
    * name, or -1 when the suffix is not a number (a legacy
    * `-v<UUID>` publish from an older layout — ordered below every
    * numbered generation, mtime-tiebroken among themselves). The
    * MONOTONIC SEQUENCE is the version order:
    * `_SUCCESS` mtime is only a tiebreak, because coarse mtime
    * granularity or clock skew across writers makes two same-tick
    * publishes ambiguous, and object stores guarantee neither atomic
    * rename nor mtime ordering — the same reason the snapshot log
    * publishes monotonic `gen=N` partitions
    * ([[graft.operators.MergeUpsert]]). */
  private[graft] def versionSeq(name: String, prefix: String): Long = {
    val s = name.stripPrefix(prefix)
    if (s.nonEmpty && s.forall(_.isDigit) && s.length <= 18) s.toLong else -1L
  }

  /** Published versions under `<parent>/<prefix><seq>`, NEWEST FIRST
    * by the canonical order: parsed sequence desc, then `_SUCCESS`
    * mtime desc, then name — the single election order every reader,
    * retention cut, and spec uses. Unmarked directories (no
    * `_SUCCESS`) are concurrent writes in progress and are invisible. */
  private[graft] def versionsAt(parent: File, prefix: String): Seq[(File, Long)] =
    Option(parent.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith(prefix))
      .flatMap { d =>
        val m = new File(d, "_SUCCESS")
        if (m.exists()) Some((d, m.lastModified())) else None
      }
      .sortBy { case (d, t) => (-versionSeq(d.getName, prefix), -t, d.getName) }
      .toSeq

  def writeVersioned(spark: SparkSession, dir: String, table: String,
                     kind: String, df: DataFrame, params: String = "",
                     retain: Option[Int] = RetentionDefault,
                     sizeForWrite: Boolean = true): DataFrame = {
    val base = indexDir(spark, dir, table, kind, params)
    val prefix = base.getName + "-v"
    // bound accumulation: sweep sibling versions, but NEVER the newest
    // two — age alone is not a safe signal (a query stream can scan one
    // version for longer than any fixed window at audit-tier SFs, and
    // deleting a scanned version fails its FileScan mid-task). Keeping
    // the two most recent published versions gives every reader a full
    // handoff generation; older-than-an-hour third-and-beyond versions
    // have no plausible reader left.
    versionsAt(base.getParentFile, prefix).drop(2)
      .filter(_._2 < System.currentTimeMillis() - 3600L * 1000)
      .foreach { case (d, _) => deleteRecursively(d) }
    // Monotonic generation publish under the staging protocol: build
    // into `.tmp-<nonce>`, then claim `<prefix><max+1>` by atomic
    // rename. A concurrent publisher that claimed the same sequence
    // first wins the rename; the loser re-scans and claims the next
    // number — every published generation gets a UNIQUE monotonic seq.
    val tmp = new File(base.getParentFile,
      base.getName + ".tmp-" + java.util.UUID.randomUUID())
    // callers that size their own output (index_compact's deliberate
    // ceil(rows/CompactRowsPerFile) repartition) pass sizeForWrite=false
    val sized = if (sizeForWrite) sizedForWrite(df) else df
    sized.write.mode("overwrite").parquet(tmp.getAbsolutePath)
    var out: File = null
    while (out == null) {
      val next = (Option(base.getParentFile.listFiles())
        .getOrElse(Array.empty[File])
        .filter(_.getName.startsWith(prefix))   // claimed counts, published or not
        .map(d => versionSeq(d.getName, prefix)) :+ -1L).max + 1
      val target = new File(base.getParentFile, prefix + next)
      if (tmp.renameTo(target)) out = target
      else if (!target.exists())
        throw new IllegalStateException(s"versioned publish failed for $target")
    }
    // retention-on-publish: the version just written carries Spark's
    // _SUCCESS and the highest sequence, so it always survives the cut
    retain.foreach(n => expireVersionsAt(base.getParentFile, prefix, n))
    spark.read.parquet(out.getAbsolutePath)
  }

  /** Versions [[expireVersions]] retains by default — one generation
    * of handoff for in-flight readers plus the live version, the same
    * window [[graft.operators.MergeUpsert.RetentionKeep]] gives the
    * snapshot log. */
  val VersionRetentionKeep = 2

  /** EXPLICIT retention for [[writeVersioned]] artifacts — the expire
    * verb that completes the versioned-publish lifecycle:
    * [[writeVersioned]]'s opportunistic write-time sweep
    * only fires when the SAME kind publishes again and never touches
    * versions younger than an hour, so a retired query stream's
    * versions (or a burst of publishes) accumulate until someone
    * expires them — the unbounded-storage gap `snapshot_expire` closed
    * for the snapshot log, one directory over. Drops every PUBLISHED
    * version of `kind` except the newest `keep` (ordered by parsed
    * generation sequence, mtime-then-name tiebroken — [[versionsAt]]'s
    * canonical order), unconditionally — the caller asserts no
    * reader holds an expired generation, exactly the contract of
    * [[graft.streaming.IngestDedup.sweepTombstones]] after compaction.
    * Safe by the publish invariant: every version is its own immutable
    * directory, so no survivor shares files with an expired one.
    * Reads within the window are untouched; a read of an expired
    * version's path fails LOUDLY (the directory is gone), never as
    * silently-wrong data. Returns the survivors, newest first. */
  def expireVersions(spark: SparkSession, dir: String, table: String,
                     kind: String, keep: Int = VersionRetentionKeep,
                     params: String = ""): Seq[File] = {
    val base = indexDir(spark, dir, table, kind, params)
    expireVersionsAt(base.getParentFile, base.getName + "-v", keep)
  }

  /** Layout-level core of [[expireVersions]], shared with stores that
    * embed a versioned layout under their own root (the band-index
    * expire log): versions are `<parent>/<prefix>*` directories,
    * published iff `_SUCCESS` exists (an unmarked directory may be a
    * concurrent write in progress — never touched, same rule as the
    * write-time sweep). */
  private[graft] def expireVersionsAt(parent: File, prefix: String,
                                      keep: Int): Seq[File] = {
    require(keep >= 1,
      s"retention must keep at least one version, got keep=$keep")
    val published = versionsAt(parent, prefix)
    published.drop(keep).foreach { case (d, _) => deleteRecursively(d) }
    published.take(keep).map(_._1)
  }

  private def deleteRecursively(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRecursively)
    f.delete(); ()
  }
}
