package graft.bde

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import graft.SparkSuite

/** End-to-end slice + sink atomicity (mirrors t/linz_bde_uploader.t:1176-1221). */
class LoaderSpec extends SparkSuite with TimeLimits {
  import spark.implicits._

  // `Observation.get` blocks forever when no action evaluated the observed
  // scan: the level-5 tests below run under `failAfter`, and the signaler
  // interrupts a blocked load instead of hanging the suite
  implicit val signaler: Signaler = ThreadSignaler

  /** A published level-0 slice version under a fresh root. */
  private def loadedSlice(): (Path, ParquetTableSink) = {
    val dir = Files.createTempDirectory("l5-slice")
    val sink = new ParquetTableSink(spark, dir.resolve("tables").toString,
      L5Slice.Table)
    L5Slice.loadLevel0(spark, sink, dir)
    (dir, sink)
  }

  private def stats(s: Loader.LoadStats) =
    (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete)

  private def rows(d: DataFrame) =
    d.orderBy(L5Slice.Key).collect().map(_.toSeq).toSeq

  test("sink: stage-then-publish is atomic; discard leaves current version") {
    val root = Files.createTempDirectory("sink-spec").toString
    val sink = new ParquetTableSink(spark, root, "t")
    assert(!sink.exists)
    sink.replace(Seq((1, "a")).toDF("id", "v"), "v1")
    assert(sink.read().count() == 1)
    val staged = sink.stage(Seq((2, "b"), (3, "c")).toDF("id", "v"), "v2")
    assert(sink.read().count() == 1)          // staged is invisible
    sink.publish(staged)
    assert(sink.read().count() == 2)
    val staged3 = sink.stage(Seq((9, "z")).toDF("id", "v"), "v3")
    sink.discard(staged3)
    assert(sink.read().count() == 2)          // abort left v2 intact
  }

  test("E2E slice: final 5 rows and stats match the reference test exactly") {
    val r = E2E.runSlice(spark)
    // level-0 content (t:656-711)
    assert(r.l0Rows.orderBy("pri_id").collect().map(_.getInt(4)).toSeq ==
      Seq(80401150, 80401149, 80401148))
    // stats (t:1198-1201)
    assert(r.stats.ninsert == 3)
    assert(r.stats.nupdate == 2)
    assert(r.stats.nnullupdate == 0)
    assert(r.stats.ndelete == 1)
    assert(!r.stats.aborted)
    // final contents (t:1204-1221)
    val rows = r.finalRows.orderBy("pri_id").collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getInt(2), x.getString(3), x.getInt(4)))
    assert(rows.toSeq == Seq(
      (4457326, 3, 11960041, "Y", 100),
      (4457327, 20, 29694578, "N", 80401149),
      (4457328, 10, 29694591, "Y", 80401148),
      (4457329, 4, 10000000, "Y", 300),
      (4457330, 5, 20000000, "Y", 400)))
    // control rows: both jobs complete, watermarks advanced
    val wm = r.control.lastUpload("bde", E2E.TableName).get
    assert(wm.lastUploadDataset.contains(E2E.L5Dataset))
    assert(wm.lastLevel0Dataset.contains(E2E.L0Dataset))
    assert(r.control.uploadsDf.collect().map(_.getString(2)).toSeq == Seq("C", "C"))
  }

  test("tolerance breach aborts the publish") {
    val (stats, published) = E2E.runToleranceAbort(spark)
    assert(stats.aborted)
    assert(stats.ndelete == 1)
    assert(published.count() == 3)           // still the level-0 version
  }

  test("level-0 incremental (E3) merges via full diff") {
    val root = Files.createTempDirectory("e3-spec").toString
    val sink = new ParquetTableSink(spark, root, "t")
    sink.replace(Seq((1, "a"), (2, "b")).toDF("id", "v"), "v1")
    // stage a snapshot file: id 2 changed, 3 added, 1 dropped
    val content =
      """HEDR	 2.0.0
        |TABLE	 t
        |COLUMN	 id integer NULL
        |COLUMN	 v varchar NULL
        |{CRS-DATA}
        |2|B|
        |3|c|
        |""".stripMargin
    val f = Files.createTempFile("e3", ".crs")
    Files.writeString(f, content)
    val stats = Loader.level0Incremental(spark, sink, Seq(f.toString), "id", "v2")
    assert((stats.ninsert, stats.nupdate, stats.ndelete) == (1L, 1L, 1L))
    assert(sink.read().orderBy("id").collect().map(r =>
      (r.getInt(0), r.getString(1))).toSeq == Seq(2 -> "B", 3 -> "c"))
  }

  test("file-error budget is single-pass: one scan per file, observed count exact") {
    // Count records read by ALL tasks while the load runs: the old design
    // pre-scanned each file to count malformed rows and then scanned it
    // again to load — total input ≈ 2× the file's lines. The Observation
    // design must stay at ≈ 1×.
    val recordsRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        recordsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    val root = Files.createTempDirectory("budget-singlepass")
    val file = root.resolve("sp.crs")
    val dataRows = Seq("1|a|", "2|b", "3|c|", "4|d|e|", "5|f|") // 2 malformed
    Files.writeString(file, OrchestratorScenario.crs("t_sp",
      Seq("id" -> "integer", "v" -> "varchar"), dataRows))
    val fileLines = Files.readAllLines(file).size
    val sink = new ParquetTableSink(spark, root.resolve("t").toString, "t_sp")
    spark.sparkContext.addSparkListener(listener)
    try {
      val stats = Loader.level0Replace(spark, sink, Seq(file.toString), "v1",
        maxFileErrors = Some(2))
      assert(stats.ninsert == 3) // observed from the write, not a recount
    } finally {
      // listener events are posted asynchronously; poll until the scan's
      // records have been accounted, then allow a grace period for stragglers
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (recordsRead.get < fileLines && System.nanoTime < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
    }
    // One text scan of the file (header lines included by TextInputFormat);
    // a second pass would push this to ≥ 2× fileLines.
    assert(recordsRead.get >= fileLines)
    assert(recordsRead.get < 2L * fileLines,
      s"expected a single scan of $fileLines lines, saw ${recordsRead.get} records read")
  }

  test("pruneVersions keeps the published + N previous versions, drops the rest") {
    import spark.implicits._
    val root = Files.createTempDirectory("prune").toString
    val sink = new ParquetTableSink(spark, root, "t_pv")
    (1 to 4).foreach(i =>
      sink.replace(Seq((i, s"v$i")).toDF("id", "v"), s"2020010${i}000000"))
    assert(sink.currentVersion.contains("v_20200104000000"))
    val removed = sink.pruneVersions(keepPrevious = 1)
    // published + most recent previous survive; the two oldest go
    assert(removed.toSet == Set("v_20200101000000", "v_20200102000000"))
    assert(sink.read().collect().map(_.getInt(0)).toSeq == Seq(4))
    // idempotent: nothing further to prune
    assert(sink.pruneVersions(keepPrevious = 1).isEmpty)
    // keepPrevious = 0 removes everything but the published version
    assert(sink.pruneVersions(keepPrevious = 0) == Seq("v_20200103000000"))
    assert(sink.read().count() == 1)
  }

  test("keepFiles leaves a discarded staged dir on disk (-k | -keep-files)") {
    import spark.implicits._
    val root = Files.createTempDirectory("keepf").toString
    val keep = new ParquetTableSink(spark, root, "t_kf", keepFiles = true)
    val s1 = keep.stage(Seq((1, "a")).toDF("id", "v"), "20200101000000")
    keep.discard(s1)
    assert(Files.exists(java.nio.file.Paths.get(root, "t_kf", s1)),
      "keepFiles sink must leave the staged dir for inspection")
    val drop = new ParquetTableSink(spark, root, "t_kf")
    val s2 = drop.stage(Seq((2, "b")).toDF("id", "v"), "20200102000000")
    drop.discard(s2)
    assert(!Files.exists(java.nio.file.Paths.get(root, "t_kf", s2)),
      "default sink must delete the discarded staged dir")
  }

  test("level-5 early exit on zero changes for this table") {
    val root = Files.createTempDirectory("l5-empty").toString
    val st = E2E.stageRepository()
    val sink = new ParquetTableSink(spark, root, "other_table")
    Loader.level0Replace(spark, sink, Seq(st.l0File), "20160601000000")
    val chg = BdeFormat.readFile(spark, st.changeFile)
    val stats = Loader.level5Apply(spark, sink, Seq(st.l5File), chg,
      "other_table", "audit_id", "20170629000000")
    assert((stats.ninsert, stats.nupdate, stats.ndelete) == (0L, 0L, 0L))
    assert(sink.read().count() == 3)
  }

  test("level-5 gate order: the file-error budget fails a table with no change keys") {
    failAfter(2.minutes) {
      val (dir, sink) = loadedSlice()
      // two malformed rows against a budget of one, and no change key for
      // this table: the budget still gates before the zero-key early exit
      val inc = L5Slice.dataFile(dir, "l5.crs",
        L5Slice.l5Rows ++ Seq("1|2|", "1|2|3|4|5|6|"))
      val chg = L5Slice.localChanges(spark,
        L5Slice.changeFile(dir, L5Slice.changes, table = "other_table"))
      val e = intercept[IllegalStateException](
        Loader.level5Apply(spark, sink, Seq(inc), chg, L5Slice.Table, L5Slice.Key,
          L5Slice.L5Version, maxFileErrors = Some(1)))
      assert(e.getMessage.contains("2 malformed rows exceed max_file_errors=1"))
      assert(sink.currentVersion.contains(s"v_${L5Slice.L0Version}"))
    }
  }

  test("level-5: change keys in neither the table nor the increment change nothing") {
    failAfter(2.minutes) {
      val (dir, sink) = loadedSlice()
      val before = rows(sink.read())
      val chg = L5Slice.localChanges(spark,
        L5Slice.changeFile(dir, Seq(7 -> "U", 8 -> "D")))
      val s = Loader.level5Apply(spark, sink,
        Seq(L5Slice.dataFile(dir, "l5.crs", L5Slice.l5Rows)), chg, L5Slice.Table,
        L5Slice.Key, L5Slice.L5Version, uniqueCols = Seq("lin_id"),
        tolError = Some(0.95), maxFileErrors = Some(0))
      assert(stats(s) == ((0L, 0L, 0L, 0L)))
      assert(!s.aborted)
      assert(rows(sink.read()) == before)
    }
  }

  /** Run `body`, recording the description of every Spark job it starts
    * and the plan of every SQL execution. */
  private def withJobs[A](body: => A): (A, Seq[String], Seq[SparkPlanInfo]) = {
    val marker = "level5-job-count-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.map(_.name).mkString(" | ")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val a = try {
      val a = body
      // listener events arrive in order: once the marker job is seen, every
      // job of the body has been counted
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      while (!jobs.contains(marker)) Thread.sleep(20)
      a
    } finally spark.sparkContext.removeSparkListener(listener)
    (a, jobs.asScala.takeWhile(_ != marker).toSeq, plans.asScala.toSeq)
  }

  private def scans(p: SparkPlanInfo): Seq[String] =
    p.metadata.get("Location").toSeq ++ p.children.flatMap(scans)

  private def isWrite(p: SparkPlanInfo): Boolean =
    p.nodeName.contains("InsertIntoHadoopFsRelation") || p.children.exists(isWrite)

  test("level-5 load runs a bounded number of Spark jobs and never re-reads the staged version") {
    failAfter(3.minutes) {
      val (dir, sink) = loadedSlice()
      val inc = L5Slice.dataFile(dir, "l5.crs", L5Slice.l5Rows)
      val chg = L5Slice.localChanges(spark,
        L5Slice.changeFile(dir, L5Slice.changes))
      val (s, jobs, plans) = withJobs(
        Loader.level5Apply(spark, sink, Seq(inc), chg, L5Slice.Table,
          L5Slice.Key, L5Slice.L5Version, uniqueCols = Seq("lin_id"),
          tolError = Some(0.20), tolWarning = Some(0.95), maxFileErrors = Some(0)))
      assert(stats(s) == ((3L, 2L, 0L, 1L)))
      val loadJobs = jobs.size
      // the change-set-sized sets are collected once and broadcast from the
      // driver; the counts ride on the classify scan and the staged write. A
      // bare count() or a second classification pass pushes this over the
      // bound.
      assert(loadJobs <= 15, s"level-5 load ran $loadJobs Spark jobs")
      val stagedScans = plans.flatMap(scans)
        .filter(_.contains(s"v_${L5Slice.L5Version}"))
      assert(stagedScans.isEmpty, s"the staged version was re-read: $stagedScans")
      assert(rows(sink.read()).map(_.last) == L5Slice.finalKeys)
    }
  }

  /** A second increment on top of the slice's: 300 updated, 400 deleted,
    * 500 inserted. */
  private val l5bRows = Seq("4457326|3|11960041|Y|100|",
    "4457329|44|10000000|Y|300|", "4457331|6|30000000|Y|500|")
  private val l5bChanges = Seq(300 -> "U", 400 -> "D", 500 -> "I")
  private val l5bVersion = "20170630000000"

  /** Keys of the padding rows start here. */
  private val PadKey = 1000000000

  /** The slice's rows of `d`, without the padding. */
  private def sliceRows(d: DataFrame) = rows(d.where(col(L5Slice.Key) < PadKey))

  /** The slice after its level-5 load: a base plus one delta. The base
    * carries 2000 padding rows, which no change touches, so that the
    * deltas stay under a quarter of its bytes and the next load adds a
    * delta rather than compacting. */
  private def chainedSlice(): (Path, ParquetTableSink) = {
    val dir = Files.createTempDirectory("l5-chain")
    val sink = new ParquetTableSink(spark, dir.resolve("tables").toString,
      L5Slice.Table)
    val padding = (0 until 2000).map(i =>
      s"${5000000 + i}|1|${200000000 + i}|Y|${PadKey + i}|")
    Loader.level0Replace(spark, sink,
      Seq(L5Slice.dataFile(dir, "l0.crs", L5Slice.l0Rows ++ padding)), L5Slice.L0Version)
    val s = Loader.level5Apply(spark, sink,
      Seq(L5Slice.dataFile(dir, "l5.crs", L5Slice.l5Rows)),
      L5Slice.localChanges(spark, L5Slice.changeFile(dir, L5Slice.changes)),
      L5Slice.Table, L5Slice.Key, L5Slice.L5Version, uniqueCols = Seq("lin_id"))
    assert(stats(s) == ((3L, 2L, 0L, 1L)))
    assert(sink.currentVersion.contains(s"v_${L5Slice.L5Version}"))
    assert(Files.exists(tableDir(dir).resolve(s"v_${L5Slice.L5Version}/_CHAIN")))
    (dir, sink)
  }

  private def tableDir(dir: Path): Path = dir.resolve(s"tables/${L5Slice.Table}")

  test("level-5 load over a base plus one delta: bounded jobs, and its staged write scans no published directory") {
    failAfter(3.minutes) {
      val (dir, sink) = chainedSlice()
      val inc = L5Slice.dataFile(dir, "l5b.crs", l5bRows)
      val chg = L5Slice.localChanges(spark, L5Slice.changeFile(dir, l5bChanges))
      val (s, jobs, plans) = withJobs(
        Loader.level5Apply(spark, sink, Seq(inc), chg, L5Slice.Table,
          L5Slice.Key, l5bVersion, uniqueCols = Seq("lin_id"),
          tolError = Some(0.20), tolWarning = Some(0.95), maxFileErrors = Some(0)))
      assert(stats(s) == ((1L, 1L, 0L, 1L)))
      assert(s.warnings.isEmpty)
      assert(jobs.size <= 15, s"level-5 load over a chain ran ${jobs.size} Spark jobs")
      val published = Seq(s"v_${L5Slice.L0Version}", s"v_${L5Slice.L5Version}")
      val writes = plans.filter(isWrite)
      assert(writes.size == 1, s"expected one staged write, saw ${writes.size}")
      val publishedScans = writes.flatMap(scans).filter(l => published.exists(l.contains))
      assert(publishedScans.isEmpty, s"the staged write scanned published data: $publishedScans")
      assert(sink.currentVersion.contains(s"v_$l5bVersion"))
      assert(sliceRows(sink.read()).map(_.last) == Seq(100, 300, 500, 80401148, 80401149))
      assert(sliceRows(sink.read()).find(_.last == 300).map(_(1)).contains(44))
    }
  }

  test("level-5 tolerance abort on a chained version discards the staged delta; the chain stays readable") {
    failAfter(2.minutes) {
      val (dir, sink) = chainedSlice()
      val before = rows(sink.read())
      // two deletes leave 2003 of 2005 rows: below ceil(2005 * 0.9995)
      val chg = L5Slice.localChanges(spark,
        L5Slice.changeFile(dir, Seq(400 -> "D", 80401148 -> "D")))
      val s = Loader.level5Apply(spark, sink,
        Seq(L5Slice.dataFile(dir, "l5b.crs", l5bRows)), chg, L5Slice.Table,
        L5Slice.Key, l5bVersion, tolError = Some(0.9995))
      assert(s.aborted)
      assert(s.abortReason == "table count 2003 below error tolerance of old count 2005")
      assert(sink.currentVersion.contains(s"v_${L5Slice.L5Version}"))
      assert(!Files.exists(tableDir(dir).resolve(s"v_$l5bVersion")))
      assert(rows(sink.read()) == before)
    }
  }

  test("a plain version directory written without a manifest reads and takes a delta on top") {
    failAfter(2.minutes) {
      val dir = Files.createTempDirectory("l5-plain")
      val t = tableDir(dir)
      // a version as every earlier release wrote it: parquet files and a
      // `_CURRENT` naming their directory, nothing else
      L5Slice.l0Rows.map(_.split('|').toSeq).map(r =>
        (r(0).toInt, r(1).toInt, r(2).toInt, r(3), r(4).toInt))
        .toDF("pri_id", "sequence", "lin_id", "reversed", "audit_id")
        .write.parquet(t.resolve("v_old").toString)
      Files.writeString(t.resolve("_CURRENT"), "v_old")
      val sink = new ParquetTableSink(spark, dir.resolve("tables").toString, L5Slice.Table)
      assert(sink.read().count() == 3)
      val s = Loader.level5Apply(spark, sink,
        Seq(L5Slice.dataFile(dir, "l5.crs", L5Slice.l5Rows)),
        L5Slice.localChanges(spark, L5Slice.changeFile(dir, L5Slice.changes)),
        L5Slice.Table, L5Slice.Key, L5Slice.L5Version, uniqueCols = Seq("lin_id"))
      assert(stats(s) == ((3L, 2L, 0L, 1L)))
      assert(Files.readString(t.resolve(s"v_${L5Slice.L5Version}/_CHAIN")).contains("base v_old"))
      assert(rows(sink.read()).map(_.last) == L5Slice.finalKeys)
    }
  }

  test("a staged delta never published leaves the old version; the rerun publishes under _r1") {
    failAfter(2.minutes) {
      val (dir, sink) = chainedSlice()
      val before = rows(sink.read())
      val inc = L5Slice.dataFile(dir, "l5b.crs", l5bRows)
      val chg = L5Slice.localChanges(spark, L5Slice.changeFile(dir, l5bChanges))
      // a crash between staging and the `_CURRENT` rename: the delta's
      // directory is complete but never published
      val crashed = sink.stage(
        spark.read.parquet(tableDir(dir).resolve(s"v_${L5Slice.L5Version}").toString)
          .where(col(L5Slice.Key) === 100),
        Seq(300, 400).toDF(L5Slice.Key), L5Slice.Key, l5bVersion)
      assert(crashed == s"v_$l5bVersion")
      assert(sink.currentVersion.contains(s"v_${L5Slice.L5Version}"))
      assert(rows(sink.read()) == before)
      val s = Loader.level5Apply(spark, sink, Seq(inc), chg, L5Slice.Table,
        L5Slice.Key, l5bVersion, uniqueCols = Seq("lin_id"))
      assert(stats(s) == ((1L, 1L, 0L, 1L)))
      assert(sink.currentVersion.contains(s"v_${l5bVersion}_r1"))
      assert(sliceRows(sink.read()).map(_.last) == Seq(100, 300, 500, 80401148, 80401149))
      assert(Files.readString(tableDir(dir).resolve(s"v_${l5bVersion}_r1/_CHAIN"))
        .linesIterator.map(_.split(' ').take(2).mkString(" ")).toSeq ==
        Seq(s"key ${L5Slice.Key}", s"base v_${L5Slice.L0Version}",
          s"delta v_${L5Slice.L5Version}", s"delta v_${l5bVersion}_r1"))
    }
  }

  test("pruneVersions never deletes a base or delta that a kept version reads") {
    failAfter(2.minutes) {
      val (dir, sink) = chainedSlice()
      val s = Loader.level5Apply(spark, sink,
        Seq(L5Slice.dataFile(dir, "l5b.crs", l5bRows)),
        L5Slice.localChanges(spark, L5Slice.changeFile(dir, l5bChanges)),
        L5Slice.Table, L5Slice.Key, l5bVersion)
      assert(!s.aborted)
      val expected = rows(sink.read())
      // an unreferenced leftover, older than the chain
      val stale = tableDir(dir).resolve("v_20000101000000")
      spark.range(1).write.parquet(stale.toString)
      Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime.fromMillis(0))
      // the published version is a delta reading the base and the first
      // delta: nothing it names goes, whatever keepPrevious is
      assert(sink.pruneVersions(keepPrevious = 0) == Seq("v_20000101000000"))
      assert(rows(sink.read()) == expected)
      assert(sink.pruneVersions(keepPrevious = 1).isEmpty)
      // after a full version replaces the chain, keepPrevious = 1 keeps the
      // previous version's chain for in-flight readers, and 0 drops it
      sink.replace(sink.read(), "20170701000000")
      assert(sink.pruneVersions(keepPrevious = 1).isEmpty)
      assert(sink.pruneVersions(keepPrevious = 0).toSet == Set(
        s"v_${L5Slice.L0Version}", s"v_${L5Slice.L5Version}", s"v_$l5bVersion"))
      assert(rows(sink.read()) == expected)
    }
  }

  test("a reader polling read().count() through 50 delta publishes sees only published counts") {
    failAfter(5.minutes) {
      val dir = Files.createTempDirectory("l5-poll")
      val sink = new ParquetTableSink(spark, dir.toString, "t_poll")
      // a base large enough that only the delta-count rule compacts
      sink.replace(spark.range(0, 100000).toDF("id"), "0")
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val reader = new Thread(() =>
        try while (!stop.get) seen.add(sink.read().count())
        catch { case e: Throwable => failure.set(e) })
      reader.start()
      // publish i adds two new keys and removes key i: every published
      // version holds 100000 + i rows
      try (1 to 50).foreach { i =>
        sink.publish(sink.stage(Seq(100000L + 2 * i, 100001L + 2 * i).toDF("id"),
          Seq(i.toLong).toDF("id"), "id", i.toString))
      } finally { stop.set(true); reader.join() }
      assert(failure.get == null, s"reader failed: ${failure.get}")
      val counts = seen.asScala.map(_.longValue).toSeq
      assert(counts.nonEmpty)
      assert(counts.forall(c => c >= 100000 && c <= 100050), counts.distinct.sorted)
      assert(counts == counts.sorted, "a reader saw a version older than one it had seen")
      assert(sink.read().count() == 100050)
      assert(sink.read().where(col("id") <= 50).count() == 1)
    }
  }

  test("level-5 tolerance abort on the observed counts discards the staged version") {
    failAfter(2.minutes) {
      val (dir, sink) = loadedSlice()
      // the delete alone leaves 2 of 3 rows: below ceil(3 * 0.95)
      val chg = L5Slice.localChanges(spark,
        L5Slice.changeFile(dir, Seq(80401150 -> "D")))
      val s = Loader.level5Apply(spark, sink,
        Seq(L5Slice.dataFile(dir, "l5.crs", L5Slice.l5Rows)), chg, L5Slice.Table,
        L5Slice.Key, L5Slice.L5Version, tolError = Some(0.95))
      assert(s.aborted)
      assert(s.abortReason == "table count 2 below error tolerance of old count 3")
      assert(stats(s) == ((0L, 0L, 0L, 1L)))
      assert(sink.currentVersion.contains(s"v_${L5Slice.L0Version}"))
      assert(!Files.exists(dir.resolve(s"tables/${L5Slice.Table}/v_${L5Slice.L5Version}")))
    }
  }

  test("level-0 incremental tolerance abort on the observed counts discards the staged version") {
    failAfter(2.minutes) {
      val (dir, sink) = loadedSlice()
      // a snapshot holding one of the three rows: below ceil(3 * 0.95)
      val s = Loader.level0Incremental(spark, sink,
        Seq(L5Slice.dataFile(dir, "snap.crs", L5Slice.l0Rows.take(1))),
        L5Slice.Key, L5Slice.L5Version, tolError = Some(0.95))
      assert(s.aborted)
      assert(s.abortReason == "table count 1 below error tolerance of old count 3")
      assert(stats(s) == ((0L, 0L, 0L, 2L)))
      assert(sink.currentVersion.contains(s"v_${L5Slice.L0Version}"))
      assert(sink.read().count() == 3)
      assert(!Files.exists(dir.resolve(s"tables/${L5Slice.Table}/v_${L5Slice.L5Version}")))
    }
  }
}
