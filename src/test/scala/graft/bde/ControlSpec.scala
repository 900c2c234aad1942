package graft.bde

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile

import graft.SparkSuite

class ControlSpec extends SparkSuite {

  private def mkControl(clock: () => Timestamp) =
    new Control(spark, Files.createTempDirectory("ctl-spec").toString, clock)

  private def fixed(s: String): () => Timestamp = {
    val t = Timestamp.valueOf(s); () => t
  }

  test("job lifecycle: A -> C / E, single-active gate") {
    val ctl = mkControl(fixed("2020-01-01 00:00:00"))
    val u1 = ctl.createUpload("bde").toOption.get
    assert(ctl.upload(u1).exists(_.status == "A"))
    assert(ctl.anyUploadActive)
    assert(ctl.createUpload("bde").isLeft)
    assert(ctl.createUpload("bde", allowConcurrent = true).isRight)
    ctl.finishUpload(u1, ok = false)
    assert(ctl.upload(u1).exists(_.status == "E"))
  }

  test("locks: claim, refuse, steal, release on finish") {
    val ctl = mkControl(fixed("2020-01-01 00:00:00"))
    val u1 = ctl.createUpload("bde").toOption.get
    val u2 = ctl.createUpload("bde", allowConcurrent = true).toOption.get
    assert(ctl.lockTable(u1, "t1"))
    assert(ctl.lockTable(u1, "t1"))            // re-entrant for the owner
    assert(!ctl.lockTable(u2, "t1"))
    assert(ctl.lockTable(u2, "t1", force = true))
    assert(!ctl.haveTableLock(u1, "t1") && ctl.haveTableLock(u2, "t1"))
    ctl.finishUpload(u2, ok = true)
    assert(!ctl.haveTableLock(u2, "t1"))       // finish releases locks
  }

  test("zombie expiry frees locks and marks E") {
    var now = "2020-01-01 00:00:00"
    val ctl = mkControl(() => Timestamp.valueOf(now))
    val u1 = ctl.createUpload("bde").toOption.get
    ctl.lockTable(u1, "t1")
    now = "2020-01-01 03:00:00"
    assert(ctl.releaseExpiredLocks(2.0) == Seq(u1))
    assert(ctl.upload(u1).exists(_.status == "E"))
    assert(!ctl.haveTableLock(u1, "t1"))
    // heartbeat keeps a job alive
    val u2 = ctl.createUpload("bde").toOption.get
    now = "2020-01-01 04:30:00"
    ctl.heartbeat(u2)
    now = "2020-01-01 05:00:00"
    assert(ctl.releaseExpiredLocks(2.0).isEmpty)
  }

  test("purge keeps referenced and recent jobs") {
    var now = "2020-01-01 00:00:00"
    val ctl = mkControl(() => Timestamp.valueOf(now))
    val old1 = ctl.createUpload("bde").toOption.get
    ctl.finishUpload(old1, ok = true)
    val old2 = ctl.createUpload("bde").toOption.get
    ctl.recordDatasetLoaded(old2, "bde", "t", "20200101000000", "0",
      incremental = false, details = "", ninsert = 1, nupdate = 0,
      nnullupdate = 0, ndelete = 0)
    ctl.finishUpload(old2, ok = true)
    now = "2020-03-01 00:00:00"
    assert(ctl.removeOldJobData(30) == Seq(old1))
    assert(ctl.upload(old2).isDefined) // referenced by watermark
  }

  test("watermark upsert: L5 advances upload watermark, L0 advances both") {
    val ctl = mkControl(fixed("2020-01-01 00:00:00"))
    val u = ctl.createUpload("bde").toOption.get
    ctl.recordDatasetLoaded(u, "bde", "t", "20200101000000", "0",
      incremental = false, details = "d0", 3, 0, 0, 0)
    ctl.recordDatasetLoaded(u, "bde", "t", "20200201000000", "5",
      incremental = true, details = "d5", 1, 2, 0, 1)
    val row = ctl.lastUpload("bde", "t").get
    assert(row.lastUploadDataset.contains("20200201000000"))
    assert(row.lastLevel0Dataset.contains("20200101000000"))
    assert(row.lastUploadType.contains("5"))
    assert(row.lastUploadDetails == "d5")
    assert(ctl.statRecords.size == 2)
  }

  test("details codec round-trips; malformed strings parse empty") {
    val d = Control.buildDetails(Seq(
      "pab1" -> "2016-06-01 17:12:25", "XAUD" -> "2016-06-01 17:12:46"))
    assert(d == "BdeUpload pab1 2016-06-01 17:12:25 XAUD 2016-06-01 17:12:46")
    assert(Control.parseDetails(d) == Map(
      "pab1" -> "2016-06-01 17:12:25", "xaud" -> "2016-06-01 17:12:46"))
    assert(Control.parseDetails("garbage").isEmpty)
    assert(Control.parseDetails("BdeUpload pab1 not-a-time").isEmpty)
  }

  test("continuity check: ok / warn / fail / disabled / malformed") {
    import Control._
    assert(checkStartDate("2020-01-01 00:00:00", "2020-01-01 00:00:00", 1, 5) == ContinuityOk)
    assert(checkStartDate("2020-01-01 02:00:00", "2020-01-01 00:00:00", 1, 5)
      .isInstanceOf[ContinuityWarn])
    assert(checkStartDate("2020-01-02 00:00:00", "2020-01-01 00:00:00", 1, 5)
      .isInstanceOf[ContinuityFail])
    assert(checkStartDate("2020-01-02 00:00:00", "2020-01-01 00:00:00", 0, 0) == ContinuityOk)
    assert(checkStartDate("junk", "2020-01-01 00:00:00", 1, 5) == ContinuityOk)
  }

  test("timeout deadline") {
    var now = "2020-01-01 00:00:00"
    val t = new Control.JobTimeout(1.0, () => Timestamp.valueOf(now))
    t.check()
    now = "2020-01-01 02:00:00"
    intercept[RuntimeException](t.check())
    val unlimited = new Control.JobTimeout(0, () => Timestamp.valueOf(now))
    unlimited.check()
  }

  // ---- file replacement: control writes and `_CURRENT` publishes --------

  /** The session's Hadoop conf with `fs.file.impl` set to `impl` and the
    * FileSystem cache bypassed, so `getFileSystem` builds that class. */
  private def confWith(impl: String): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.file.impl", impl)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  private def writeUploads(conf: Configuration, path: Path, n: Int): Unit =
    ControlStore.write(conf, path.toString, ControlStore.UploadSchema,
      (1 to n).map(i => Control.UploadRow(i, "bde",
        Timestamp.valueOf("2020-01-01 00:00:00"),
        Timestamp.valueOf("2020-01-01 00:00:00"), Control.StatusComplete)))(
      ControlStore.uploadGroup)

  private def uploadIds(conf: Configuration, path: Path): Seq[Int] =
    ControlStore.read(conf, path.toString).get.map(_.getInteger("id", 0))

  /** Commands of the processes `body` started whose command line names
    * `dir`, recorded by an in-process flight recording. */
  private def spawnsNaming(dir: Path)(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val dump = Files.createTempFile("spawns", ".jfr")
      try {
        rec.dump(dump)
        jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(_.getString("command")).filter(_.contains(dir.toString))
      } finally Files.delete(dump)
    } finally rec.close()
  }

  test("control writes and publishes spawn no process on the local file system") {
    val dir = Files.createTempDirectory("replace-spawn")
    val sink = new ParquetTableSink(spark, dir.resolve("tables").toString, "t")
    val spawned = spawnsNaming(dir) {
      // the plain Hadoop local file system (a JVM without libhadoop forks
      // chmod/readlink through it) and the sessions' NoChmod subclass
      Seq("org.apache.hadoop.fs.LocalFileSystem", "graft.fs.NoChmodLocalFileSystem")
        .foreach { impl =>
          (1 to 10).foreach(i => writeUploads(confWith(impl), dir.resolve("upload.parquet"), i))
        }
      (1 to 5).foreach(i => sink.publish(s"v_$i"))
    }
    assert(spawned.isEmpty,
      s"${spawned.size} processes started, e.g. ${spawned.take(3).mkString("; ")}")
    assert(uploadIds(spark.sparkContext.hadoopConfiguration,
      dir.resolve("upload.parquet")) == (1 to 10))
    assert(sink.currentVersion.contains("v_5"))
  }

  test("a concurrent reader never finds _CURRENT or a control file missing") {
    val dir = Files.createTempDirectory("replace-poll")
    val conf = spark.sparkContext.hadoopConfiguration
    val sink = new ParquetTableSink(spark, dir.resolve("tables").toString, "t")
    val ctl = dir.resolve("upload.parquet")
    sink.publish("v_0")
    writeUploads(conf, ctl, 1)
    val stop = new AtomicBoolean(false)
    val polls = new AtomicInteger
    val misses = new AtomicInteger
    val reader = new Thread(() =>
      while (!stop.get) {
        val seen =
          try sink.currentVersion.isDefined && Files.exists(ctl)
          catch { case _: java.io.IOException => false }
        if (!seen) misses.incrementAndGet()
        polls.incrementAndGet()
      })
    reader.start()
    try (1 to 100).foreach { i =>
      sink.publish(s"v_$i")
      writeUploads(conf, ctl, i % 3 + 1)
    } finally { stop.set(true); reader.join() }
    assert(polls.get > 0)
    assert(misses.get == 0, s"${misses.get} of ${polls.get} polls found a file missing")
    assert(sink.currentVersion.contains("v_100"))
  }

  test("a stale temp file left by an interrupted replace does not break the next one") {
    val dir = Files.createTempDirectory("replace-stale")
    val conf = spark.sparkContext.hadoopConfiguration
    val ctl = dir.resolve("upload.parquet")
    writeUploads(conf, ctl, 1)
    val ctlTmp = dir.resolve(".upload.parquet.tmp")
    Files.write(ctlTmp, "half-written parquet".getBytes(StandardCharsets.UTF_8))
    writeUploads(conf, ctl, 2)
    assert(uploadIds(conf, ctl) == Seq(1, 2))
    assert(!Files.exists(ctlTmp))

    val sink = new ParquetTableSink(spark, dir.resolve("tables").toString, "t")
    sink.publish("v_1")
    val ptrTmp = dir.resolve("tables/t/_CURRENT.tmp.v_2")
    Files.write(ptrTmp, "v_garbage-and-more".getBytes(StandardCharsets.UTF_8))
    sink.publish("v_2")
    assert(new ParquetTableSink(spark, dir.resolve("tables").toString, "t")
      .currentVersion.contains("v_2"))
    assert(!Files.exists(ptrTmp))
  }

  test("files written with Hadoop checksums are replaced and read back") {
    val dir = Files.createTempDirectory("replace-upgrade")
    val conf = spark.sparkContext.hadoopConfiguration
    val ctl = dir.resolve("control/upload.parquet")
    val ptr = dir.resolve("tables/t/_CURRENT")
    // the checksummed local path: the Hadoop writer leaves `.crc` sidecars
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new HPath(ctl.toUri), conf))
      .withType(ControlStore.UploadSchema).build()
    try writer.write(ControlStore.uploadGroup(ControlStore.UploadSchema,
      Control.UploadRow(1, "bde", Timestamp.valueOf("2020-01-01 00:00:00"),
        Timestamp.valueOf("2020-01-01 00:00:00"), Control.StatusComplete)))
    finally writer.close()
    val hfs = new HPath(ptr.toUri).getFileSystem(conf)
    val out = hfs.create(new HPath(ptr.toUri))
    try out.write("v_old".getBytes(StandardCharsets.UTF_8)) finally out.close()
    val ctlCrc = dir.resolve("control/.upload.parquet.crc")
    val ptrCrc = dir.resolve("tables/t/._CURRENT.crc")
    assert(Files.exists(ctlCrc) && Files.exists(ptrCrc))

    val clock = fixed("2020-02-02 00:00:00")
    val u2 = new Control(spark, dir.resolve("control").toString, clock)
      .createUpload("bde").toOption.get
    new ParquetTableSink(spark, dir.resolve("tables").toString, "t").publish("v_new")

    val reread = new Control(spark, dir.resolve("control").toString, clock)
    assert(u2 == 2)
    assert(reread.upload(1).exists(_.status == Control.StatusComplete))
    assert(reread.upload(2).exists(_.status == Control.StatusActive))
    assert(new ParquetTableSink(spark, dir.resolve("tables").toString, "t")
      .currentVersion.contains("v_new"))
    assert(!Files.exists(ctlCrc) && !Files.exists(ptrCrc))
  }

  test("a file system other than LocalFileSystem replaces through FileContext") {
    // RawLocalFileSystem is not a LocalFileSystem, so the write takes the
    // branch other schemes take: FileContext create + OVERWRITE rename,
    // whose checksummed local implementation leaves a `.crc` sidecar
    val dir = Files.createTempDirectory("replace-filecontext")
    val conf = confWith("org.apache.hadoop.fs.RawLocalFileSystem")
    val ctl = dir.resolve("upload.parquet")
    writeUploads(conf, ctl, 1)
    writeUploads(conf, ctl, 3)
    assert(uploadIds(conf, ctl) == Seq(1, 2, 3))
    assert(Files.exists(dir.resolve(".upload.parquet.crc")))
    assert(!Files.exists(dir.resolve(".upload.parquet.tmp")))
  }
}
