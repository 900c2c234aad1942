package graft.bde

import java.nio.file.Files

import graft.SparkSuite

/** The top-level run loop: happy path, error-skip, dry-run, lock-skip,
  * incomplete datasets, -full-if-needed, COLUMN overrides + cleanser on the
  * load path (reference behaviors: lib/LINZ/BdeUpload.pm:559-840). */
class OrchestratorSpec extends SparkSuite {

  private def freshRun(dryRun: Boolean = false,
      preLock: Boolean = false): (Seq[Orchestrator.TableOutcome], Control) = {
    val (root, tablesDir, controlDir) = OrchestratorScenario.stage()
    val (cat, errs) = Catalog.parse(OrchestratorScenario.TablesConf.linesIterator)
    assert(errs.isEmpty)
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    if (preLock) {
      val other = control.createUpload("bde").toOption.get
      control.lockTable(other, "t_beta")
      // leave `other` active: its lock must block the run's t_beta loads
    }
    val outcomes = Orchestrator.applyUpdates(spark,
      Orchestrator.RunConfig(
        repoRoot = root.resolve("repo").toString,
        tablesDir = tablesDir, controlDir = controlDir, dryRun = dryRun,
        allowConcurrent = preLock),
      cat, level0 = true, level5 = true, control)
    (outcomes, control)
  }

  test("scenario: outcomes, error-skip, incomplete skip, watermarks, job status") {
    val r = OrchestratorScenario.run(spark)
    val byKey = r.outcomes.map(o => (o.dataset, o.table) -> o).toMap
    assert(byKey(("20200101000000", "t_alpha")).status == "loaded")
    assert(byKey(("20200202000000", "t_beta")).status == "failed")
    assert(byKey(("20200303000000", "t_beta")).status == "skipped")
    assert(byKey(("20200303000000", "t_beta")).message == "skipped after earlier failure")
    assert(byKey(("20200404000000", "t_alpha")).message == "missing: xchg")
    // alpha null-update + delete in ds2
    val a2 = byKey(("20200303000000", "t_alpha"))
    assert((a2.nnullupdate, a2.ndelete) == (1L, 1L))
    // beta untouched since L0 (its ds1 file was poisoned)
    assert(r.betaRows.count() == 2)
    // watermarks: alpha advanced through ds2, beta stuck at L0
    val wmA = r.control.lastUpload("bde", "t_alpha").get
    val wmB = r.control.lastUpload("bde", "t_beta").get
    assert(wmA.lastUploadDataset.contains("20200303000000"))
    assert(wmB.lastUploadDataset.contains("20200101000000"))
    // a failed table marks the job E
    assert(r.control.upload(1).get.status == Control.StatusError)
  }

  test("cleanser + COLUMN overrides applied on the real load path") {
    val r = OrchestratorScenario.run(spark)
    val rows = r.alphaRows.orderBy("id").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getTimestamp(2).toString))
    assert(rows.toSeq == Seq(
      (2, "okay", "1800-01-01 00:00:00.0"),     // timestamp sentinel repair
      (3, "plain", "2021-05-05 12:00:00.0"),
      (4, "four - d", "2022-02-02 02:02:02.0"))) // en dash replaced
    // override typing: id is a real integer NOT NULL column
    assert(r.alphaRows.schema("id").dataType.typeName == "integer")
  }

  test("dry-run reports the full plan and writes nothing") {
    val (outcomes, control) = freshRun(dryRun = true)
    assert(outcomes.nonEmpty)
    assert(outcomes.forall(_.status == "dry-run"))
    // incomplete ds flagged in the dry-run message
    assert(outcomes.filter(_.dataset == "20200404000000")
      .forall(_.message == "missing: xchg"))
    assert(!control.anyUploadActive)
    assert(control.uploadTableRecords.isEmpty) // no watermark rows created
  }

  test("a lock held by another active job skips the table") {
    val (outcomes, _) = freshRun(preLock = true)
    val beta = outcomes.filter(_.table == "t_beta")
    assert(beta.nonEmpty && beta.forall(_.status == "skipped"))
    // complete datasets skip on the lock; the incomplete one skips earlier
    assert(beta.filter(_.dataset != "20200404000000")
      .forall(_.message == "table locked"))
    // alpha is unaffected
    assert(outcomes.exists(o => o.table == "t_alpha" && o.status == "loaded"))
  }

  test("incomplete level-0 dataset aborts the run and the job finishes E") {
    val (root, tablesDir, controlDir) = OrchestratorScenario.stage()
    // poison L0: remove beta's file
    Files.delete(root.resolve("repo/level_0/20200101000000/bet.crs"))
    val (cat, _) = Catalog.parse(OrchestratorScenario.TablesConf.linesIterator)
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    intercept[IllegalStateException] {
      Orchestrator.applyUpdates(spark,
        Orchestrator.RunConfig(root.resolve("repo").toString, tablesDir, controlDir),
        cat, level0 = true, level5 = false, control)
    }
    assert(control.upload(1).get.status == Control.StatusError)
  }

  test("-full-if-needed plans level-0 only while a watermark is missing") {
    val (root, tablesDir, controlDir) = OrchestratorScenario.stage()
    val (cat, _) = Catalog.parse(OrchestratorScenario.TablesConf.linesIterator)
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    val cfg = Orchestrator.RunConfig(
      root.resolve("repo").toString, tablesDir, controlDir)
    // first run: no level-0 watermark anywhere -> -j forces the L0 pass
    val first = Orchestrator.applyUpdates(spark, cfg, cat,
      level0 = false, level5 = false, control, level0IfNeeded = true)
    assert(first.exists(o => o.level == "0" && o.status == "loaded"))
    // second run: watermarks exist -> -j plans nothing
    val second = Orchestrator.applyUpdates(spark, cfg, cat,
      level0 = false, level5 = false, control, level0IfNeeded = true)
    assert(second.isEmpty)
  }

  test("multi-file tables union every configured file") {
    val root = Files.createTempDirectory("graft-multifile")
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    val cols = Seq("id" -> "integer", "v" -> "varchar")
    write("repo/level_0/20200101000000/m1.crs",
      OrchestratorScenario.crs("t_multi", cols, Seq("1|a|", "2|b|")))
    write("repo/level_0/20200101000000/m2.crs",
      OrchestratorScenario.crs("t_multi", cols, Seq("3|c|")))
    val (cat, errs) = Catalog.parse(
      "TABLE t_multi key=id files m1 m2\n".linesIterator)
    assert(errs.isEmpty)
    val control = new Control(spark, root.resolve("control").toString,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    val outcomes = Orchestrator.applyUpdates(spark,
      Orchestrator.RunConfig(root.resolve("repo").toString,
        root.resolve("tables").toString, root.resolve("control").toString),
      cat, level0 = true, level5 = false, control)
    assert(outcomes.map(_.status) == Seq("loaded"))
    assert(outcomes.head.ninsert == 3) // rows from BOTH files
    val rows = new ParquetTableSink(spark, root.resolve("tables").toString,
      "t_multi").read()
    assert(rows.count() == 3)
  }

  test("L5 continuity: warn inside tolerance, fail beyond it, then error-skip") {
    val (outcomes, control) = OrchestratorScenario.runContinuityGate(spark)
    val byDs = outcomes.map(o => o.dataset -> o).toMap
    // ds1: previous upload is the level 0 → no check
    assert(byDs("20210201000000").status == "loaded")
    assert(byDs("20210201000000").message.isEmpty)
    // ds2: 2h gap → loaded with a warning
    assert(byDs("20210301000000").status == "loaded")
    assert(byDs("20210301000000").message.contains("warn tolerance"))
    // ds3: 12h gap → fails at failTolHours
    assert(byDs("20210401000000").status == "failed")
    assert(byDs("20210401000000").message.contains("differs from previous end time"))
    // ds4: healthy but error-skipped
    assert(byDs("20210501000000").status == "skipped")
    // the watermark (and its details) stopped at ds2
    val wm = control.lastUpload("bde", "t_gap").get
    assert(wm.lastUploadDataset.contains("20210301000000"))
    assert(Control.parseDetails(wm.lastUploadDetails) ==
      Map("gap" -> "2021-03-01 01:00:00"))
    // a failed table marks the job E
    assert(control.upload(1).get.status == Control.StatusError)
  }

  test("unique= threads through: key-swap repair deletes the stale key, X counts as update") {
    val r = OrchestratorScenario.runKeySwap(spark)
    val l5 = r.outcomes.find(o => o.level == "5").get
    // key 4 inserted, key 2 reclassified X (unique col changed) → update,
    // key 1 deleted by the repair despite NOT being in the change table
    assert((l5.status, l5.ninsert, l5.nupdate, l5.nnullupdate, l5.ndelete) ==
      ("loaded", 1L, 1L, 0L, 1L))
    val rows = r.finalRows.orderBy("id").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getString(2)))
    assert(rows.toSeq == Seq((2, "D", "y2"), (3, "C", "z"), (4, "A", "n4")))
  }

  test("-rebuild replans the latest L0 past its watermark and replays L5 after it") {
    val (root, tablesDir, controlDir) = OrchestratorScenario.stage()
    val (cat, errs) = Catalog.parse(OrchestratorScenario.TablesConf.linesIterator)
    assert(errs.isEmpty)
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    def cfgFor() = Orchestrator.RunConfig(
      repoRoot = root.resolve("repo").toString,
      tablesDir = tablesDir, controlDir = controlDir)
    val first = Orchestrator.applyUpdates(spark, cfgFor(),
      cat, level0 = true, level5 = true, control)
    assert(first.nonEmpty)
    // a second plain -f -i run: alpha's chain is already past ds2/ds3, so
    // ONLY the stuck table (beta, poisoned at ds2) is retried — a table
    // whose own watermark covers the dataset is never touched again
    val again = Orchestrator.applyUpdates(spark, cfgFor(),
      cat, level0 = true, level5 = true, control)
    assert(again.forall(o => o.status != "loaded"))
    assert(!again.exists(o => o.table == "t_alpha" && o.dataset < "20200404000000"))
    assert(again.exists(o =>
      o.table == "t_beta" && o.dataset == "20200202000000" && o.status == "failed"))
    // -r ignores the watermarks: latest L0 reloads, L5 chain replays after it
    val rebuilt = Orchestrator.applyUpdates(spark, cfgFor(),
      cat, level0 = true, level5 = true, control, rebuild = true)
    assert(rebuilt.map(o => (o.dataset, o.level)).distinct ==
      first.map(o => (o.dataset, o.level)).distinct)
    assert(rebuilt.count(_.level == "0") == 2) // both tables reloaded at L0
    assert(rebuilt.exists(o =>
      o.table == "t_alpha" && o.level == "5" && o.status == "loaded"))
  }

  test("parallel_tables loads a dataset's tables concurrently with identical outcomes") {
    val (root, tablesDir, controlDir) = OrchestratorScenario.stage()
    val (cat, errs) = Catalog.parse(OrchestratorScenario.TablesConf.linesIterator)
    assert(errs.isEmpty)
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    val parallel = Orchestrator.applyUpdates(spark,
      Orchestrator.RunConfig(
        repoRoot = root.resolve("repo").toString,
        tablesDir = tablesDir, controlDir = controlDir,
        parallelTables = 2),
      cat, level0 = true, level5 = true, control)
    // byte-identical outcome list vs the sequential scenario (same order,
    // same stats, same error-skip decisions)
    val sequential = OrchestratorScenario.run(spark).outcomes
    assert(parallel == sequential)
  }

  test("per-level runtime caps: unlimited L0 loads, a tiny L5 cap times out the run") {
    val (root, tablesDir, controlDir) = OrchestratorScenario.stage()
    val (cat, errs) = Catalog.parse(OrchestratorScenario.TablesConf.linesIterator)
    assert(errs.isEmpty)
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    val fired = scala.collection.mutable.ArrayBuffer[String]()
    val e = intercept[RuntimeException] {
      Orchestrator.applyUpdates(spark,
        Orchestrator.RunConfig(
          repoRoot = root.resolve("repo").toString,
          tablesDir = tablesDir, controlDir = controlDir,
          maxLevel5RuntimeHours = 1e-9, // expires before the first L5 table
          eventHooks = Map("error" -> Seq("crash {id}")),
          eventRunner = cmd => { fired += cmd; (0, "") }),
        cat, level0 = true, level5 = true, control)
    }
    assert(e.getMessage == "level 5 updates have timed out")
    // the level-0 dataset ran under ITS (unlimited) cap and published
    assert(new ParquetTableSink(spark, tablesDir, "t_alpha").read().count() > 0)
    // the escaped exception finished the job E and fired the error event
    assert(control.upload(1).get.status == Control.StatusError)
    assert(fired.toSeq == Seq("crash 1"))
  }

  test("event hooks + dataset SQL slots fire in reference order on the real run") {
    val (root, tablesDir, controlDir) = OrchestratorScenario.stage()
    val (cat, errs) = Catalog.parse(OrchestratorScenario.TablesConf.linesIterator)
    assert(errs.isEmpty)
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    val fired = scala.collection.mutable.ArrayBuffer[String]()
    Orchestrator.applyUpdates(spark,
      Orchestrator.RunConfig(
        repoRoot = root.resolve("repo").toString,
        tablesDir = tablesDir, controlDir = controlDir,
        onDatasetStart = (ds, id) => fired += s"slot_start:$ds:$id",
        onDatasetEnd = (ds, id) => fired += s"slot_end:$ds:$id",
        eventHooks = Map(
          "start" -> Seq("job {id} started"),
          "start_dataset" -> Seq("begin {dataset} L{level} job {id}"),
          "finish_dataset" -> Seq("end {dataset}"),
          "finish" -> Seq("job {id} done"),
          "error" -> Seq("job {id} crashed")),
        eventRunner = cmd => { fired += s"sh:$cmd"; (0, "") }),
      cat, level0 = true, level5 = true, control)
    val f = fired.toSeq
    // start first, then per dataset: SQL slot BEFORE the shell event
    // (beginDataset → FireEvent, BdeUpload.pm:749-751), mirrored at the end
    assert(f.head == "sh:job 1 started")
    val ds1 = f.indexOf("slot_start:20200101000000:1")
    assert(f(ds1 + 1) == "sh:begin 20200101000000 L0 job 1")
    val e1 = f.indexOf("slot_end:20200101000000:1")
    assert(f(e1 + 1) == "sh:end 20200101000000")
    // table-level failures do NOT crash the run: finish fires, error doesn't
    assert(f.last == "sh:job 1 done")
    assert(!f.exists(_.contains("crashed")))
    // every planned dataset fired its pair, in plan order
    val starts = f.filter(_.startsWith("slot_start:"))
    assert(starts == starts.sorted && starts.size >= 4)
  }

  test("dataset revisions ride the SQL slots: modified survive, unused delete") {
    // the reference test config wires bde_CreateDatasetRevision /
    // bde_CompleteDatasetRevision into dataset_load_start/end_sql
    // (t/linz_bde_uploader.t:630-638) — same wiring through the repo's slots
    val (root, tablesDir, controlDir) = OrchestratorScenario.stage()
    val (cat, errs) = Catalog.parse(OrchestratorScenario.TablesConf.linesIterator)
    assert(errs.isEmpty)
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    Orchestrator.applyUpdates(spark,
      Orchestrator.RunConfig(
        repoRoot = root.resolve("repo").toString,
        tablesDir = tablesDir, controlDir = controlDir,
        onDatasetStart = (_, id) => { control.createDatasetRevision(id); () },
        onDatasetEnd = (_, id) => { control.completeDatasetRevision(id); () }),
      cat, level0 = true, level5 = true, control)
    val revs = control.revisionRecords
    // only revisions that modified >=1 table survive, all closed
    assert(revs.nonEmpty && revs.forall(r =>
      r.complete && r.ntables >= 1 && r.closedAt.nonEmpty))
    val datasets = revs.map(_.dataset)
    assert(datasets.contains("20200101000000")) // the L0 load modified alpha
    assert(!datasets.contains("20200404000000")) // incomplete → unused, deleted
    // monotone table_version-style cursor from the first id
    assert(revs.head.revision == Control.FirstRevisionId)
    assert(revs.map(_.revision) == revs.map(_.revision).sorted)
    // the revision timestamp is the dataset name parsed as a timestamp
    assert(revs.head.revisionTime ==
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
  }

  /** Writes `files` (repository-relative path -> content) under a fresh
    * root and returns the run's config and control. */
  private def stageRepo(files: (String, String)*): (Orchestrator.RunConfig, Control) = {
    val root = Files.createTempDirectory("graft-orch-arm")
    files.foreach { case (rel, content) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    val controlDir = root.resolve("control").toString
    (Orchestrator.RunConfig(root.resolve("repo").toString,
      root.resolve("tables").toString, controlDir),
      new Control(spark, controlDir,
        () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00")))
  }

  private val idV = Seq("id" -> "integer", "v" -> "varchar")
  private val changeCols = Seq("id" -> "integer", "tablename" -> "varchar",
    "tablekeyvalue" -> "integer", "action" -> "char")

  test("l5_is_full table diffs its snapshot beside a change-driven table; both record level 5 incremental") {
    val (cfg, control) = stageRepo(
      "repo/level_0/20200101000000/ful.crs" ->
        OrchestratorScenario.crs("t_full", idV, Seq("1|a|", "2|b|", "3|c|")),
      "repo/level_0/20200101000000/chg.crs" ->
        OrchestratorScenario.crs("t_chg", idV, Seq("1|x|", "2|y|")),
      // the snapshot drops 1, changes 2 and adds 4; the change file names
      // only t_chg's keys, so t_full can change only through the diff
      "repo/level_5/20200202000000/ful.crs" ->
        OrchestratorScenario.crs("t_full", idV, Seq("2|B|", "3|c|", "4|d|")),
      "repo/level_5/20200202000000/chg.crs" ->
        OrchestratorScenario.crs("t_chg", idV, Seq("2|yy|", "3|z|")),
      "repo/level_5/20200202000000/xchg.crs" ->
        OrchestratorScenario.crs("xchg", changeCols,
          Seq("1|t_chg|2|U|", "2|t_chg|3|I|")))
    val (cat, errs) = Catalog.parse(
      """TABLE l5_change_table files xchg
        |TABLE t_full l5_is_full key=id files ful
        |TABLE t_chg key=id files chg
        |""".stripMargin.linesIterator)
    assert(errs.isEmpty)
    val outcomes = Orchestrator.applyUpdates(spark, cfg,
      cat, level0 = true, level5 = true, control)
    val l5 = outcomes.filter(_.level == "5")
      .map(o => o.table -> (o.status, o.ninsert, o.nupdate, o.nnullupdate, o.ndelete))
      .toMap
    assert(l5 == Map(
      "t_full" -> ("loaded", 1L, 1L, 0L, 1L),
      "t_chg" -> ("loaded", 1L, 1L, 0L, 0L)))
    def rows(t: String) = new ParquetTableSink(spark, cfg.tablesDir, t).read()
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows("t_full") == Seq(2 -> "B", 3 -> "c", 4 -> "d"))
    assert(rows("t_chg") == Seq(1 -> "x", 2 -> "yy", 3 -> "z"))
    for (t <- Seq("t_full", "t_chg")) {
      val wm = control.lastUpload("bde", t).get
      assert(wm.lastUploadDataset.contains("20200202000000"))
      assert(wm.lastUploadType.contains("5"))
      assert(wm.incremental)
    }
    val l5Stats = control.statRecords.filter(_.dataset == "20200202000000")
    assert(l5Stats.size == 2)
    assert(l5Stats.forall(s => s.level == "5" && s.incremental))
  }

  test("row-tolerance abort fails the table, keeps its version, watermark and stats, then error-skips it") {
    val (cfg, control) = stageRepo(
      "repo/level_0/20200101000000/tol.crs" ->
        OrchestratorScenario.crs("t_tol", idV, Seq("1|a|", "2|b|", "3|c|", "4|d|")),
      // ds1 deletes half the table: 2 rows < ceil(4 * 0.95)
      "repo/level_5/20200202000000/tol.crs" ->
        OrchestratorScenario.crs("t_tol", idV, Seq()),
      "repo/level_5/20200202000000/xchg.crs" ->
        OrchestratorScenario.crs("xchg", changeCols,
          Seq("1|t_tol|1|D|", "2|t_tol|2|D|")),
      // ds2 is a healthy update
      "repo/level_5/20200303000000/tol.crs" ->
        OrchestratorScenario.crs("t_tol", idV, Seq("3|cc|")),
      "repo/level_5/20200303000000/xchg.crs" ->
        OrchestratorScenario.crs("xchg", changeCols, Seq("1|t_tol|3|U|")))
    val (cat, errs) = Catalog.parse(
      """TABLE l5_change_table files xchg
        |TABLE t_tol key=id row_tol=0.95,0.95 files tol
        |""".stripMargin.linesIterator)
    assert(errs.isEmpty)
    val outcomes = Orchestrator.applyUpdates(spark, cfg,
      cat, level0 = true, level5 = true, control)
    val byDs = outcomes.map(o => o.dataset -> o).toMap
    assert(byDs("20200101000000").status == "loaded")
    assert(byDs("20200202000000").status == "failed")
    assert(byDs("20200202000000").message ==
      "table count 2 below error tolerance of old count 4")
    assert(byDs("20200303000000").status == "skipped")
    assert(byDs("20200303000000").message == "skipped after earlier failure")
    val sink = new ParquetTableSink(spark, cfg.tablesDir, "t_tol")
    assert(sink.currentVersion.contains("v_20200101000000"))
    assert(sink.read().count() == 4)
    val wm = control.lastUpload("bde", "t_tol").get
    assert(wm.lastUploadDataset.contains("20200101000000"))
    assert(wm.lastUploadType.contains("0"))
    assert(control.statRecords.map(s => (s.dataset, s.level)) ==
      Seq("20200101000000" -> "0"))
    assert(control.upload(1).get.status == Control.StatusError)
  }

  test("row-tolerance warning publishes the load and reports the breach; an in-tolerance load reports none") {
    val (cfg, control) = stageRepo(
      "repo/level_0/20200101000000/tol.crs" ->
        OrchestratorScenario.crs("t_tol", idV, Seq("1|a|", "2|b|", "3|c|", "4|d|")),
      // ds1 deletes half the table: 2 rows < ceil(4 * 0.95), >= ceil(4 * 0.20)
      "repo/level_5/20200202000000/tol.crs" ->
        OrchestratorScenario.crs("t_tol", idV, Seq()),
      "repo/level_5/20200202000000/xchg.crs" ->
        OrchestratorScenario.crs("xchg", changeCols,
          Seq("1|t_tol|1|D|", "2|t_tol|2|D|")),
      // ds2 updates a row: 2 rows = ceil(2 * 0.95); it starts where ds1
      // ended, so the continuity check adds no warning either
      "repo/level_5/20200303000000/tol.crs" ->
        OrchestratorScenario.crs("t_tol", idV, Seq("3|cc|"),
          start = "2020-01-01 01:00:00", end = "2020-01-01 02:00:00"),
      "repo/level_5/20200303000000/xchg.crs" ->
        OrchestratorScenario.crs("xchg", changeCols, Seq("1|t_tol|3|U|")))
    val (cat, errs) = Catalog.parse(
      """TABLE l5_change_table files xchg
        |TABLE t_tol key=id row_tol=0.20,0.95 files tol
        |""".stripMargin.linesIterator)
    assert(errs.isEmpty)
    val outcomes = Orchestrator.applyUpdates(spark, cfg,
      cat, level0 = true, level5 = true, control)
    val byDs = outcomes.map(o => o.dataset -> o).toMap
    assert(outcomes.map(_.status) == Seq("loaded", "loaded", "loaded"))
    assert(byDs("20200202000000").message ==
      "table count 2 below warning tolerance of old count 4")
    assert(byDs("20200202000000").ndelete == 2)
    assert(byDs("20200303000000").message == "")
    val sink = new ParquetTableSink(spark, cfg.tablesDir, "t_tol")
    assert(sink.currentVersion.contains("v_20200303000000"))
    assert(sink.read().orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq(3 -> "cc", 4 -> "d"))
    assert(control.lastUpload("bde", "t_tol").get.lastUploadDataset.contains("20200303000000"))
  }

  test("file-error budget: within budget drops bad rows, breach aborts") {
    val (loaded, aborted) = OrchestratorScenario.runErrorBudget(spark)
    assert(loaded == 3)
    assert(aborted)
  }
}
