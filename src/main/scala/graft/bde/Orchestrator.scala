package graft.bde

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The top-level run loop — the reference's `ApplyUpdates` →
 * `ApplyDatasetUpdates` → `UploadTable` orchestration
 * (`lib/LINZ/BdeUpload.pm:559-840`) over this engine's planner, loader,
 * sinks and control layer:
 *
 *  - plan from the repository scan + per-table watermarks (E1: latest
 *    complete level-0; E2: every level-5 after the watermark, in order);
 *    `-full-if-needed` forces a level-0 pass when any table has no level-0
 *    watermark yet (bin/linz_bde_uploader.pl:118-148);
 *  - one job row per run, single-active gate, per-table locks (with the
 *    `-override-locks` steal path);
 *  - per-dataset "transaction": each table's new version stages first and
 *    publishes only if its load succeeds (tolerance gate included);
 *  - EVERY file of a multi-file table loads (the reference's per-file loop,
 *    lib:886-890,966), and every production frame passes through the
 *    configured cleanser and `COLUMN` catalog overrides;
 *  - one arm per table picks the [[Loader]] entry point from the dataset
 *    level, `-full-incremental` and the table's `l5_is_full` flag (the
 *    full-snapshot diff (E3) for `l5_is_full` tables and under
 *    `-full-incremental`, else the change table for level 5 and replace for
 *    level 0), turns an abort into a table failure and records the load
 *    once;
 *  - an INCOMPLETE level-5 dataset is skipped with per-table warnings
 *    BEFORE any file is opened (lib:691-702); an incomplete level-0 aborts
 *    the run and the job finishes in error;
 *  - ERROR-SKIP: a table that fails in dataset N is skipped for the rest of
 *    the run (`$tablestate`, lib:758-771,824-837) — later datasets keep
 *    loading the healthy tables;
 *  - dataset/job boundary hooks and post-level0/post-upload hook phases;
 *  - dry-run mode prints the plan and changes nothing (lib:559-609).
 */
object Orchestrator {

  final case class RunConfig(
      repoRoot: String,
      tablesDir: String,
      controlDir: String,
      schemaName: String = "bde",
      before: Option[String] = None,
      dryRun: Boolean = false,
      /** Per-LEVEL runtime caps (`max_level0/5_runtime_hours`,
        * conf/linz_bde_uploader.conf:148-149; CLI `-full-timeout`/
        * `-inc-timeout`): the clock RESETS at each dataset and the cap is
        * picked by the dataset's level (SetTimeout per dataset,
        * lib/LINZ/BdeUpload.pm:735-744). 0 disables. */
      maxLevel0RuntimeHours: Double = 0,
      maxLevel5RuntimeHours: Double = 0,
      /** bde_copy cleansing rules applied to every loaded frame; None =
        * cleanser off (the reference equivalent of bypassing bde_copy). */
      cleanConfig: Option[Clean.CleanConfig] = Some(Clean.CleanConfig()),
      /** `max_file_errors` budget: malformed rows are dropped up to this
        * count, beyond it the table load fails (conf:370-376). */
      maxFileErrors: Option[Long] = None,
      /** `-override-locks`: steal per-table locks held by other jobs. */
      overrideLocks: Boolean = false,
      /** `allow_concurrent_uploads`: bypass the single-active-job gate
        * (lib/LINZ/BdeDatabase.pm:377-392) — per-table locks still apply. */
      allowConcurrent: Boolean = false,
      /** L5 start-time continuity tolerances in hours
        * (`level5_starttime_warn/fail_tolerance`,
        * conf/linz_bde_uploader.conf:131-134; defaults 0.5 / 0 as there).
        * 0 disables that level. */
      continuityWarnHours: Double = 0.5,
      continuityFailHours: Double = 0,
      /** Per-dataset slots, (dataset, uploadId) — the analogue of
        * `dataset_load_start_sql`/`dataset_load_end_sql`
        * (lib/LINZ/BdeDatabase.pm:478-495); wire [[Hooks.sqlSlot]] here to
        * run real SQL blocks with `{id}` expansion. */
      onDatasetStart: (String, Int) => Unit = (_, _) => (),
      onDatasetEnd: (String, Int) => Unit = (_, _) => (),
      hooks: Hooks.HookRegistry = new Hooks.HookRegistry,
      /** Shell event hooks by event name ([[Hooks.EventNames]]), as the
        * reference's `<event>_event_hooks` config (BdeUpload.pm:405-421);
        * commands run through `eventRunner` with `{pid}/{id}/{dataset}/
        * {level}` expanded — non-zero exits are reported via
        * `onEventResult`, never fatal. */
      eventHooks: Map[String, Seq[String]] = Map.empty,
      eventRunner: String => (Int, String) = Hooks.runShell,
      onEventResult: (String, String, Int, String) => Unit = (_, _, _, _) => (),
      /** Tables within one dataset loading CONCURRENTLY (`parallel_tables`
        * config; default 1 = the reference's sequential per-table loop,
        * lib/LINZ/BdeUpload.pm:787-802). Independent tables write disjoint
        * sinks and the control layer is synchronized, so on a cluster N
        * concurrent Spark jobs keep executors busy while a table's small
        * control I/O runs. Outcomes stay in catalog order regardless. */
      parallelTables: Int = 1,
      /** `-skip-postupload-tasks`: suppress the post-level0/post-upload
        * hook phases by user choice (lib/LINZ/BdeUpload.pm:815-822). */
      skipPostUploadTasks: Boolean = false,
      /** `-k | -keep-files` (`keep_files` config): failed/aborted staged
        * version dirs stay on disk for inspection. */
      keepFiles: Boolean = false)

  final case class TableOutcome(
      dataset: String, level: String, table: String, status: String, // loaded|skipped|failed|dry-run
      ninsert: Long, nupdate: Long, nnullupdate: Long, ndelete: Long,
      message: String)

  /** Run a full `-full` (level-0) + `-incremental` (level-5) pass over
    * everything the plan selects. Returns per-(dataset, table) outcomes. */
  def applyUpdates(
      spark: SparkSession,
      cfg: RunConfig,
      catalog: Seq[Catalog.TableDef],
      level0: Boolean,
      level5: Boolean,
      control: Control,
      level0IfNeeded: Boolean = false,
      rebuild: Boolean = false,
      /** `-j | -full-incremental`: apply level-0 datasets AS A COMPUTED DIFF
        * against the published table instead of truncate-and-replace —
        * `$is_incremental = apply_level0_inc || level5_is_full`
        * (lib/LINZ/BdeUpload.pm:961,980; bin/linz_bde_uploader.pl:86). */
      level0AsDiff: Boolean = false): Seq[TableOutcome] = {
    val tables = catalog.filterNot(_.levels == Set("C")).sortBy(_.id)
    val changeDef = Catalog.changeTable(catalog)
    val nowFn = () => new java.sql.Timestamp(System.currentTimeMillis())
    // re-armed per dataset with the level's own cap (SetTimeout semantics,
    // lib/LINZ/BdeUpload.pm:735-744): each dataset gets a fresh budget
    var timeout = new Control.JobTimeout(0, nowFn)
    val cleanFn: DataFrame => DataFrame =
      cfg.cleanConfig.map(c => Clean.applyTo(_: DataFrame, c))
        .getOrElse(identity[DataFrame] _)

    // `-j`: a level-0 pass is needed when any selected table has never had
    // one (missing level-0 watermark), bin/linz_bde_uploader.pl:118-148
    val effLevel0 = level0 || (level0IfNeeded && tables.exists(t =>
      control.lastUpload(cfg.schemaName, t.name)
        .flatMap(_.lastLevel0Dataset).isEmpty))

    // plan from per-table watermarks (min across tables, as one shared
    // dataset sequence — the reference plans per table; a shared floor is
    // equivalent when tables advance together, and per-table skips below
    // re-check each table's own watermark)
    def watermark(pick: Control.UploadTableRow => Option[String]): Option[String] = {
      val ws = tables.flatMap(t =>
        control.lastUpload(cfg.schemaName, t.name).flatMap(pick))
      if (ws.size < tables.size) None else Some(ws.min)
    }
    // `-r` rebuild (lib/LINZ/BdeUpload.pm:631-648,663-676): reload the
    // latest level-0 REGARDLESS of its watermark, and replay level 5 from
    // the dataset being reloaded rather than the persisted watermark
    val l0Plan = if (effLevel0)
      Repo.planLevel0(spark, cfg.repoRoot, catalog,
        if (rebuild) None else watermark(_.lastLevel0Dataset),
        cfg.before).toSeq
    else Nil
    val l5Watermark =
      if (rebuild && l0Plan.nonEmpty) Some(l0Plan.map(_.dataset).max)
      else watermark(_.lastUploadDataset)
    val l5Plan = if (level5)
      Repo.planLevel5(spark, cfg.repoRoot, catalog, l5Watermark, cfg.before)
    else Nil
    val plan = l0Plan ++ l5Plan

    // a table whose OWN watermark already covers the dataset is not touched
    // (the reference plans per table: `$lastl0 lt $dataset->name` lib:648,
    // `repository->after($lastl5)` lib:685) — bypassed under -r rebuild
    def tableUpToDate(t: Catalog.TableDef, dataset: String, level: String): Boolean =
      !rebuild && {
        val wm = control.lastUpload(cfg.schemaName, t.name)
        val own =
          if (level == "0") wm.flatMap(_.lastLevel0Dataset)
          else wm.flatMap(_.lastUploadDataset)
        own.exists(_ >= dataset)
      }

    if (cfg.dryRun)
      // same per-table watermark filter as the real run, so the printed
      // plan IS the work a real run would do
      return plan.flatMap(p => tables
        .filter(t => t.appliesToLevel(p.level) &&
          !tableUpToDate(t, p.dataset, p.level))
        .map(t =>
          TableOutcome(p.dataset, p.level, t.name, "dry-run", 0, 0, 0, 0,
            if (p.complete) "" else s"missing: ${p.missing.mkString(",")}")))

    val uplId = control.createUpload(cfg.schemaName, cfg.allowConcurrent) match {
      case Left(err) => return Seq(TableOutcome("", "", "", "failed", 0, 0, 0, 0, err))
      case Right(id) => id
    }
    val firer = new Hooks.EventFirer(cfg.eventHooks, cfg.eventRunner,
      cfg.onEventResult)
    val failed = scala.collection.mutable.Set[String]() // error-skip state
    val outcomes = scala.collection.mutable.ArrayBuffer[TableOutcome]()
    var crashed = true // an exception escaping the loop must finish the job as E

    firer.fire("start", Some(uplId))
    try {
      for (p <- plan) {
        timeout = new Control.JobTimeout(
          if (p.level == "0") cfg.maxLevel0RuntimeHours
          else cfg.maxLevel5RuntimeHours,
          nowFn, s"level ${p.level} updates have timed out")
        // startDataset sets the `_dataset` job option BEFORE the
        // dataset_load_start_sql slot runs (BdeDatabase.pm:476-486 →
        // bde_StartDataset), so a slot calling
        // `control.createDatasetRevision(id)` resolves the dataset the
        // way the reference's `bde_CreateDatasetRevision({{id}})` does
        control.setOption(uplId, "_dataset", Some(p.dataset))
        // slot first, then the shell event — beginDataset runs the
        // dataset_load_start_sql block before FireEvent('start_dataset')
        // (BdeUpload.pm:749-751); mirrored for the end pair (:806-807)
        cfg.onDatasetStart(p.dataset, uplId)
        firer.fire("start_dataset", Some(uplId), Some(p.dataset), Some(p.level))
        if (!p.complete && p.level == "0")
          throw new IllegalStateException(
            s"level-0 dataset ${p.dataset} incomplete: ${p.missing.mkString(",")}")
        if (!p.complete) {
          // incomplete level-5 dataset: skip-with-warning BEFORE any file
          // is opened (the change file itself may be the missing one)
          for (t <- tables if t.appliesToLevel(p.level))
            outcomes += TableOutcome(p.dataset, p.level, t.name, "skipped",
              0, 0, 0, 0, s"missing: ${p.missing.mkString(",")}")
        } else {
          // the change table applies only to level-5 change-driven tables
          val changeFiles: Option[DataFrame] =
            if (p.level == "5" && tables.exists(t =>
                t.appliesToLevel("5") && !t.level5IsFull))
              changeDef.map(cd => cd.files
                .map(f => BdeFormat.readFile(spark, s"${p.path}/$f.crs"))
                .reduce(_ unionByName _))
            else None
          // The day's change set, collected once per dataset into a
          // driver-local relation: each table's loader takes its keys from
          // it without a Spark job or another scan of the file. Lazy, so a
          // data error fails the tables that read it, as a per-table scan did.
          lazy val changeTable: Option[DataFrame] = changeFiles.map { chg =>
            val keys = chg.select("tablename", "tablekeyvalue")
            spark.createDataFrame(keys.collect().toSeq.asJava, keys.schema)
          }
          def processTable(t: Catalog.TableDef): Option[TableOutcome] = {
            timeout.check()
            // the shared dataset sequence is the floor across tables; each
            // table re-checks its OWN watermark ([[tableUpToDate]])
            if (tableUpToDate(t, p.dataset, p.level)) return None
            val skipReason =
              if (failed.synchronized(failed.contains(t.name)))
                Some("skipped after earlier failure")
              else if (!control.lockTable(uplId, t.name, force = cfg.overrideLocks))
                Some("table locked")
              else None
            Some(skipReason match {
              case Some(reason) =>
                TableOutcome(p.dataset, p.level, t.name, "skipped",
                  0, 0, 0, 0, reason)
              case None =>
                try {
                  val sink = new ParquetTableSink(spark, cfg.tablesDir, t.name,
                    keepFiles = cfg.keepFiles)
                  val files = t.files.map(f => s"${p.path}/$f.crs")
                  if (p.level == "5" && !sink.exists)
                    throw new IllegalStateException(
                      s"no level-0 load of ${t.name} before level-5 increment")
                  val key = t.key.getOrElse("id")
                  // is_incremental = apply_level0_inc || level5_is_full, and
                  // every level 5 is incremental (lib/LINZ/BdeUpload.pm:961,980)
                  val incremental = p.level == "5" || level0AsDiff || t.level5IsFull
                  val stats =
                    if (p.level == "5" && !t.level5IsFull) {
                      // continuity check input: the previous LEVEL-5 load's
                      // per-file END times (lib:944-952 — only when the last
                      // upload was itself a level 5)
                      val prevDetails = control.lastUpload(cfg.schemaName, t.name)
                        .filter(_.lastUploadType.contains("5"))
                        .map(r => Control.parseDetails(r.lastUploadDetails))
                        .getOrElse(Map.empty[String, String])
                      Loader.level5Apply(spark, sink, files,
                        changeTable.getOrElse(throw new IllegalStateException(
                          "missing required changetable")),
                        t.name, key, p.dataset,
                        uniqueCols = t.uniqueCols,
                        tolError = t.rowTolError, tolWarning = t.rowTolWarning,
                        clean = cleanFn, columnOverrides = t.columnOverrides,
                        maxFileErrors = cfg.maxFileErrors,
                        prevDetails = prevDetails,
                        continuityWarnHours = cfg.continuityWarnHours,
                        continuityFailHours = cfg.continuityFailHours)
                    } else if (incremental)
                      Loader.level0Incremental(spark, sink, files, key, p.dataset,
                        clean = cleanFn, columnOverrides = t.columnOverrides,
                        tolError = t.rowTolError, tolWarning = t.rowTolWarning,
                        maxFileErrors = cfg.maxFileErrors)
                    else
                      Loader.level0Replace(spark, sink, files, p.dataset,
                        clean = cleanFn, columnOverrides = t.columnOverrides,
                        maxFileErrors = cfg.maxFileErrors)
                  if (stats.aborted) throw new IllegalStateException(stats.abortReason)
                  control.recordDatasetLoaded(uplId, cfg.schemaName, t.name,
                    p.dataset, p.level, incremental, stats.details,
                    stats.ninsert, stats.nupdate, stats.nnullupdate, stats.ndelete)
                  TableOutcome(p.dataset, p.level, t.name, "loaded",
                    stats.ninsert, stats.nupdate, stats.nnullupdate,
                    stats.ndelete, stats.warnings.mkString("; "))
                } catch {
                  case e: Exception =>
                    failed.synchronized(failed += t.name)
                    TableOutcome(p.dataset, p.level, t.name,
                      "failed", 0, 0, 0, 0,
                      Option(e.getMessage).getOrElse(e.getClass.getName))
                }
            })
          }
          val levelTables = tables.filter(_.appliesToLevel(p.level))
          // `parallel_tables` > 1: independent tables of the dataset load as
          // concurrent Spark jobs (disjoint sinks; synchronized control).
          // Table-level failures are already folded into the outcome, so a
          // failed future can only be a run-level abort (timeout, missing
          // level-0) — rethrown after the pool drains, exactly as the
          // sequential loop would have thrown it. Outcomes keep catalog
          // order either way.
          outcomes ++= (
            if (cfg.parallelTables <= 1 || levelTables.size <= 1)
              levelTables.flatMap(processTable)
            else {
              import scala.concurrent.{Await, ExecutionContext, Future}
              import scala.concurrent.duration.Duration
              val pool = java.util.concurrent.Executors
                .newFixedThreadPool(cfg.parallelTables)
              implicit val ec: ExecutionContext =
                ExecutionContext.fromExecutor(pool)
              // A run-level abort (timeout, missing level-0) stops the run,
              // but: queued tables observe the abort flag and return
              // immediately, IN-FLIGHT loads drain before the job finishes
              // (a background table completing after finishUpload would
              // write control state lock-free), and outcomes that DID
              // complete are recorded before the rethrow — loads that
              // happened must never be invisible.
              @volatile var abort: Throwable = null
              def guarded(t: Catalog.TableDef): Option[TableOutcome] =
                if (abort != null) None
                else try processTable(t)
                catch { case e: Throwable =>
                  if (abort == null) abort = e
                  None
                }
              val results =
                try Await.result(
                  Future.sequence(levelTables.map(t => Future(guarded(t)))),
                  Duration.Inf)
                finally {
                  pool.shutdown()
                  pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
                }
              if (abort != null) { outcomes ++= results.flatten; throw abort }
              results.flatten
            })
        }
        // one heartbeat per dataset, not per table — the reference refreshes
        // its lock per long op; per-table writes here were pure overhead
        control.heartbeat(uplId)
        cfg.onDatasetEnd(p.dataset, uplId)
        firer.fire("finish_dataset", Some(uplId), Some(p.dataset), Some(p.level))
        if (p.level == "0" && !cfg.skipPostUploadTasks)
          cfg.hooks.runAll("bde_postlevel0_", uplId)
      }
      if (!cfg.skipPostUploadTasks) cfg.hooks.runAll("bde_postupload_", uplId)
      crashed = false
    } finally {
      control.finishUpload(uplId, ok = failed.isEmpty && !crashed)
      // `finish` fires only on a clean run loop (FinishJob fires it when no
      // error escaped, BdeUpload.pm:855-864); an escaping exception fires
      // `error` instead (the CLI's catch, bin/linz_bde_uploader.pl:250-258)
      if (crashed) firer.fire("error", Some(uplId))
      else firer.fire("finish", Some(uplId))
    }
    outcomes.toSeq
  }
}
