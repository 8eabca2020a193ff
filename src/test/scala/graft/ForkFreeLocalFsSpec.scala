package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.legacy.TsvDataset
import graft.streaming.IngestDedup

/** The session's local filesystem: writes fork no `chmod` and renames
  * no `readlink`, and what it writes carries the permissions Hadoop's
  * stock local filesystem would give it. */
class ForkFreeLocalFsSpec extends AnyFunSuite with SharedSpark {

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Commands of the processes this JVM starts while `body` runs, read
    * from an in-process JFR stream. A marker process started after
    * `body` proves the stream saw process starts and bounds the wait
    * for the events before it. */
  private def processStarts(body: => Unit): Seq[String] = {
    val cmds = new ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => { cmds.add(e.getString("command")); () })
      rs.startAsync()
      body
      new ProcessBuilder("true").start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!cmds.asScala.exists(_.trim == "true") && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(cmds.asScala.exists(_.trim == "true"), "JFR never reported the marker process")
    } finally rs.close()
    cmds.asScala.toSeq.filterNot(_.trim == "true")
  }

  test("parquet, TSV and ingest-stream writes start no chmod or readlink process") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[ForkFreeLocalFileSystem])
    def mkText(tag: String, n: Int) = (0 until n).map(j => s"$tag$j").mkString(" ")
    val idx = tmp("ff_idx"); val acc = tmp("ff_acc"); val ckpt = tmp("ff_ckpt")
    IngestDedup.seed(spark, Seq((0L, mkText("seed", 12))).toDF("doc_id", "text"), idx, acc)
    val starts = processStarts {
      spark.range(100).write.mode("overwrite").parquet(tmp("ff_parquet"))
      TsvDataset.write(Seq(("a", "1"), ("b", "2")).toDF("key", "value"), tmp("ff_tsv"))
      val mem = MemoryStream[(Long, String)]
      val q = IngestDedup.start(spark, mem.toDF.toDF("doc_id", "text"), idx, acc, ckpt)
      try for (b <- 0 until 3) {
        mem.addData((0 until 5).map(i => (100L * (b + 1) + i, mkText(s"b${b}d${i}t", 8 + i))))
        q.processAllAvailable()
      } finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    }
    val forks = starts.filter { c =>
      Set("chmod", "readlink")(c.trim.split("\\s+").head.split('/').last)
    }
    assert(forks.isEmpty, s"${forks.size} chmod/readlink processes, e.g. ${forks.take(3)}")
  }

  test("files and directories get the permissions of Hadoop's stock local filesystem") {
    /** (relative path, permission string) of everything written under a
      * fresh root: created files with their `.crc`, nested dirs, and
      * explicit modes (the sticky one defers to Hadoop). */
    def written(fs: FileSystem, umask: String): Seq[(String, String)] = {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", umask)
      fs.initialize(URI.create("file:///"), conf)
      val root = Paths.get(tmp("ff_perm"))
      try {
        val p = (rel: String) => new Path(root.resolve(rel).toUri)
        assert(fs.mkdirs(p("d/e")))
        val out = fs.create(p("d/f.bin")); out.write(Array[Byte](1, 2, 3)); out.close()
        fs.create(p("g.bin")).close()
        fs.setPermission(p("g.bin"), new FsPermission("640"))
        fs.mkdirs(p("s"))
        fs.setPermission(p("s"), new FsPermission("1777"))
        assert(fs.rename(p("d/f.bin"), p("d/e/f.bin")))
      } finally fs.close()
      Files.walk(root).iterator().asScala.drop(1).map { f =>
        root.relativize(f).toString ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
      }.toSeq.sorted
    }
    for (umask <- Seq("022", "027", "077")) {
      val stock = written(new LocalFileSystem(), umask)
      assert(stock.exists(_._1.endsWith(".f.bin.crc")), s"no checksum file in $stock")
      assert(written(new ForkFreeLocalFileSystem(), umask) == stock, s"umask $umask")
    }
  }
}
