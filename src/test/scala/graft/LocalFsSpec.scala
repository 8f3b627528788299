package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.{ForkFreeRawLocalFileSystem, LocalFs}
import graft.streaming.PriceAlertsStream

/** The fork-free `file:` checkpoint file system ([[LocalFs]]): a streaming
  * query checkpointing through it starts no `readlink`/`chmod` process,
  * and it sets the same mode bits and reports the same link status as
  * Hadoop's own `RawLocalFileSystem`. The process count is read from an
  * in-process JFR recording of `jdk.ProcessStart`; a control run on
  * Hadoop's stock `LocalFs` shows the recording sees the starts.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  case class P(id: Long, quantity: Long, productid: Long, ts: Timestamp)

  private val ImplKey = "fs.AbstractFileSystem.file.impl"
  private val StockLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  /** The program of every process the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val dump = Files.createTempFile("graft-jfr", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getString("command").trim.split("\\s+").head.split('/').last)
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  /** Three data triggers of the DSL alerts into a `file:` checkpoint, on
    * RocksDB with changelog checkpointing as perfbench and StreamBench run
    * it: each commit writes one changelog file per state partition
    * through the checkpoint file manager.
    */
  private def threeTriggers(): Unit = withRocksDb {
    withConf("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true") {
      val in = MemoryStream[P]
      val products = Seq((1L, "prod", "desc", 300.0)).toDF("id", "name", "description", "price")
      val q = PriceAlertsStream.dslAlertsUpdate(in.toDF(), products).writeStream
        .outputMode("update").format("noop")
        .option("checkpointLocation", Files.createTempDirectory("graft-cp-fork").toString)
        .start()
      try (1L to 3L).foreach { i =>
        in.addData(P(i, 20L, 1L, Timestamp.valueOf("2024-01-01 00:02:30")))
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  private def shellStarts(programs: Seq[String]): Int =
    programs.count(p => p == "readlink" || p == "chmod")

  test("a checkpointed alerts query starts no readlink/chmod process; stock LocalFs does") {
    threeTriggers() // warm-up: class loading and RocksDB's native library
    val forkFree = shellStarts(processStarts(threeTriggers()))
    val stock = shellStarts(processStarts(withConf(ImplKey -> StockLocalFs)(threeTriggers())))
    info(s"readlink/chmod starts over 3 triggers: fork-free $forkFree, stock $stock")
    assert(forkFree == 0)
    assert(stock > 0, "the control must see the stock file system's process starts")
  }

  test("fork-free setPermission and getFileLinkStatus agree with Hadoop's RawLocalFileSystem") {
    val dir = Files.createTempDirectory("graft-localfs")
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new RawLocalFileSystem()
    val forkFree = new ForkFreeRawLocalFileSystem()
    Seq(stock, forkFree).foreach(_.initialize(java.net.URI.create("file:///"), conf))
    def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    for (m <- Seq(0x1a4 /* 0644 */, 0x1ed /* 0755 */, 0x180 /* 0600 */, 0x3ff /* 01777 */, 0)) {
      val (a, b) = (Files.createFile(dir.resolve(s"a$m")), Files.createFile(dir.resolve(s"b$m")))
      stock.setPermission(new Path(a.toUri), new FsPermission(m.toShort))
      forkFree.setPermission(new Path(b.toUri), new FsPermission(m.toShort))
      assert(mode(a) == mode(b), s"mode ${m.toOctalString}")
    }
    val file = Files.createFile(dir.resolve("f"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("d"), dir.resolve("gone"))
    for (p <- Seq(file, link, dir)) {
      val (s, f) = (stock.getFileLinkStatus(new Path(p.toUri)), forkFree.getFileLinkStatus(new Path(p.toUri)))
      assert((f.isSymlink, f.isDirectory, f.getLen, f.getPath) == (s.isSymlink, s.isDirectory, s.getLen, s.getPath))
    }
    for (p <- Seq(dir.resolve("missing"), dangling)) {
      val qualified = new Path(p.toUri)
      val stockErr = intercept[java.io.IOException](stock.getFileLinkStatus(qualified))
      assert(intercept[java.io.IOException](forkFree.getFileLinkStatus(qualified)).getClass == stockErr.getClass)
    }
  }

  test("install leaves a non-stock file system in place") {
    val conf = spark.sparkContext.hadoopConfiguration
    val installed = conf.get(ImplKey)
    assert(installed == "graft.sources.ForkFreeLocalFs")
    try {
      conf.set(ImplKey, "org.example.UserFs")
      LocalFs.install(spark)
      assert(conf.get(ImplKey) == "org.example.UserFs")
      conf.set(ImplKey, StockLocalFs)
      LocalFs.install(spark)
      assert(conf.get(ImplKey) == installed)
    } finally conf.set(ImplKey, installed)
  }
}
