package graft.bde

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * E1/E2/E3 — the load paths, wiring reader → cleanser → projection → diff →
 * sink → stats (SURVEY §3). Every load is one path: the shared read step
 * ([[TableFiles]]), what the load computes and stages, and the shared
 * commit step ([[gate]]: gate the staged version, then publish or discard
 * it). The loads differ only in the middle:
 *
 *  - [[level0Replace]]  = E1, `bde_ApplyLevel0Update` non-incremental arm
 *    (sql:1949-1973): the union itself is the new version (truncate and
 *    replace), staged in full; its gate is the file-error budget, with no
 *    tolerance.
 *  - [[level5Apply]]    = E2, `bde_ApplyLevel5Update` (sql:1576-1818):
 *    change-table-driven classify, then only the change set is staged (a
 *    delta on a [[ParquetTableSink]]).
 *  - [[level0Incremental]] = E3 (sql:1887-1948): full-outer diff of the new
 *    snapshot vs current, then the same apply, staged in full (also the
 *    `l5_is_full` arm — a level-5 dataset whose files are full snapshots).
 *
 * The row-count tolerance check is an ABORT GATE exactly as in the
 * reference (`_bde_CheckTableCount`, sql:2006-2085, called before the
 * dataset commits): a staged version that breaches the error tolerance is
 * discarded and the published version is untouched. The file-error budget
 * (`max_file_errors`, conf/linz_bde_uploader.conf:370-376) aborts the
 * table when malformed rows exceed it; within budget, malformed rows are
 * dropped and counted, as bde_copy does. Each load checks the budget
 * first, then (level 5) exits early on zero change keys, then applies the
 * tolerance; nothing is published after a budget breach.
 */
object Loader {

  final case class LoadStats(
      tableName: String,
      ninsert: Long, nupdate: Long, nnullupdate: Long, ndelete: Long,
      aborted: Boolean, abortReason: String,
      /** F10 details string ("BdeUpload file end ...") built from the loaded
        * files' header END times — persisted with the watermark so the next
        * increment's continuity check has its previous end times. */
      details: String = "",
      /** Non-fatal issues (continuity and warning-tolerance breaches)
        * surfaced to the caller. */
      warnings: Seq[String] = Nil)

  /** The details-map key for a file path: basename minus extension,
    * case-folded (the reference keys `%lastdetails` on `lc($file)`,
    * lib/LINZ/BdeUpload.pm:952-957, where files are bare names like pab1). */
  private def fileKey(path: String): String =
    path.split('/').last.replaceAll("\\.[^.]*$", "").toLowerCase

  private def tsString(t: Option[java.sql.Timestamp]): String =
    t.map(_.toString.stripSuffix(".0")).getOrElse("")

  /**
   * L5 start-time continuity enforcement (lib/LINZ/BdeUpload.pm:944-958 +
   * CheckStartDate :1070-1100): each increment file's START must sit within
   * tolerance of the same file's END recorded by the PREVIOUS level-5 load.
   * A fail-tolerance breach throws (→ table failure, feeding error-skip);
   * a warn-tolerance breach returns a warning per file. Tolerance 0
   * disables that level, exactly as the reference's config does.
   */
  private def checkContinuity(
      files: Seq[String],
      headers: Seq[BdeFormat.BdeHeader],
      prevDetails: Map[String, String],
      warnTolHours: Double,
      failTolHours: Double): Seq[String] = {
    val warnings = Seq.newBuilder[String]
    files.zip(headers).foreach { case (f, h) =>
      val key = fileKey(f)
      prevDetails.get(key).foreach { prevEnd =>
        val start = tsString(h.startTime)
        Control.checkStartDate(start, prevEnd, warnTolHours, failTolHours) match {
          case Control.ContinuityFail(diff) =>
            throw new IllegalStateException(
              f"start time $start in $key differs from previous end time " +
                f"$prevEnd by $diff%.2f hours (fail tolerance $failTolHours)")
          case Control.ContinuityWarn(diff) =>
            warnings += f"start time $start in $key differs from previous " +
              f"end time $prevEnd by $diff%.2f hours (warn tolerance $warnTolHours)"
          case Control.ContinuityOk =>
        }
      }
    }
    warnings.result()
  }

  /** A2 — `ceil(old * tol)` thresholds; new count below the error threshold
    * aborts, below the warn threshold warns (sql:2035-2085). */
  def toleranceCheck(
      oldCount: Long, newCount: Long,
      tolError: Option[Double], tolWarning: Option[Double]): (Boolean, Boolean) = {
    def breach(tol: Option[Double]): Boolean = tol.exists { t =>
      oldCount > 0 && newCount < math.ceil(oldCount * t).toLong
    }
    (breach(tolError), breach(tolWarning))
  }

  // Observation names must be unique per query; a process-wide counter keeps
  // them unique across the many loads of a multi-table run.
  private val obsId = new java.util.concurrent.atomic.AtomicLong

  /** `df` with a row count riding along as an observed metric of whichever
    * action evaluates it; read it with [[observedRows]] after that action
    * (`Observation.get` blocks until then). */
  private def counted(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation(s"graft_rows_${obsId.incrementAndGet()}")
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  private def observedRows(obs: Observation): Long =
    obs.get("rows").asInstanceOf[Long]

  /** A driver-local relation holding `rows`: filtering or collecting it runs
    * no Spark job, and broadcasting it ships the rows from the driver with
    * no scan or shuffle (one small job per broadcast). */
  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The read step all three loads share: every configured file (the
    * reference's per-file loop, lib/LINZ/BdeUpload.pm:886-890,966), read
    * with its header-or-override schema (`COLUMN` catalog overrides replace
    * the header's columns, :185-188) and cleaned inside the same scan. When a
    * file-error budget is set, malformed rows are dropped AND counted in
    * that scan (one `malformed` observation per file — see
    * [[enforceBudget]]). */
  private final class TableFiles(
      spark: SparkSession,
      files: Seq[String],
      columnOverrides: Seq[BdeFormat.BdeColumn],
      clean: DataFrame => DataFrame,
      maxFileErrors: Option[Long]) {
    require(files.nonEmpty, "a table load needs at least one file")
    private val parts = files.map { file =>
      val parsed = BdeFormat.parseHeader(spark, file)
      val header =
        if (columnOverrides.nonEmpty) parsed.copy(columns = columnOverrides)
        else parsed
      val obs = maxFileErrors.map(_ =>
        Observation(s"graft_malformed_${obsId.incrementAndGet()}"))
      val raw = BdeFormat.read(spark, file, header,
        dropMalformed = maxFileErrors.isDefined, malformedObs = obs)
      (header, clean(raw), obs)
    }
    val headers: Seq[BdeFormat.BdeHeader] = parts.map(_._1)

    /** The F10 details string for the load, built from the files' header
      * END times. */
    def details: String =
      Control.buildDetails(files.map(fileKey).zip(headers.map(h => tsString(h.endTime))))

    /** The union of the files, each projected to the table's `columns`
      * first (`bde_SelectValidColumns`) when they are given. */
    def rows(columns: Option[Seq[String]]): DataFrame =
      parts
        .map { case (_, df, _) => columns.fold(df)(BdeFormat.selectValidColumns(df, _)) }
        .reduce(_ unionByName _)

    /** Enforce the `max_file_errors` budget from the per-file observations.
      * MUST be called after an action that evaluated each file's scan
      * exactly once (`Observation.get` blocks until its first action
      * completes, and a plan that evaluates the subtree twice would
      * double-count). Throws on breach, exactly like the reference's
      * bde_copy error-limit abort. */
    def enforceBudget(): Unit =
      maxFileErrors.foreach { b =>
        files.zip(parts).foreach { case (file, (_, _, obsOpt)) =>
          obsOpt.foreach { obs =>
            val bad = obs.get("malformed").asInstanceOf[Long]
            if (bad > b)
              throw new IllegalStateException(
                s"$file: $bad malformed rows exceed max_file_errors=$b")
          }
        }
      }
  }

  /**
   * The commit step all three loads end in — the reference's apply →
   * `_bde_CheckTableCount` → commit or roll back (sql:1770,1944,2006-2085):
   * stage the new version, gate it, then publish it or discard it.
   *
   * `next` builds the new version from `old` as the merge reads it. When
   * `old` is given, its row count is an observed metric of the staged write,
   * as is the new row count, so the gate re-counts nothing and never re-reads
   * the staged version. `checkStaged` runs after the write and before the
   * gate (the level-0 replace's file-error budget, whose observations the
   * write fires).
   */
  private def commit(
      sink: TableSink,
      version: String,
      old: Option[DataFrame],
      tolError: Option[Double] = None,
      tolWarning: Option[Double] = None,
      checkStaged: () => Unit = () => ())(
      next: Option[DataFrame] => DataFrame)(
      stats: Long => LoadStats): LoadStats = {
    val oldCounted = old.map(counted)
    val (rows, newObs) = counted(next(oldCounted.map(_._1)))
    gate(sink, sink.stage(rows, version), tolError, tolWarning, checkStaged)(
      () => (oldCounted.fold(0L)(o => observedRows(o._2)), observedRows(newObs)))(stats)
  }

  /**
   * Gate a staged version, then publish or discard it. `counts` gives the
   * old and new row counts. A check that throws, or a new count below the
   * error tolerance of the old count, discards the staged version: the
   * published one is untouched. A count below only the warning tolerance
   * still publishes and adds a warning to the stats, as the reference
   * raises a WARNING there. `stats` gets the new row count.
   */
  private def gate(
      sink: TableSink,
      staged: String,
      tolError: Option[Double],
      tolWarning: Option[Double],
      checkStaged: () => Unit = () => ())(
      counts: () => (Long, Long))(
      stats: Long => LoadStats): LoadStats = {
    val gated =
      try {
        checkStaged()
        val (oldCount, newCount) = counts()
        val (err, warn) = toleranceCheck(oldCount, newCount, tolError, tolWarning)
        val s = stats(newCount)
        if (err) s.copy(aborted = true, abortReason =
          s"table count $newCount below error tolerance of old count $oldCount")
        else if (warn) s.copy(warnings = s.warnings :+
          s"table count $newCount below warning tolerance of old count $oldCount")
        else s
      } catch { case e: Throwable => sink.discard(staged); throw e }
    if (gated.aborted) sink.discard(staged) else sink.publish(staged)
    gated
  }

  /** E1: read the table's BDE files, clean, and publish their union as a
    * full replacement version.
    *
    * ONE distributed pass: the staged write scans each file exactly once,
    * the published row count (`ninsert`) and the per-file malformed counts
    * ride along as observed metrics of that same write — no post-publish
    * recount, no pre-scan for the error budget. A budget breach discards
    * the staged version before anything publishes. */
  def level0Replace(
      spark: SparkSession,
      sink: TableSink,
      files: Seq[String],
      version: String,
      clean: DataFrame => DataFrame = identity,
      columnOverrides: Seq[BdeFormat.BdeColumn] = Nil,
      maxFileErrors: Option[Long] = None): LoadStats = {
    val read = new TableFiles(spark, files, columnOverrides, clean, maxFileErrors)
    commit(sink, version, old = None, checkStaged = () => read.enforceBudget())(
      _ => read.rows(None))(
      n => LoadStats(sink.table, n, 0, 0, 0, aborted = false, "", read.details))
  }

  /**
   * E2: apply one level-5 increment. The change table (id, tablename,
   * tablekeyvalue, action, timestamp — `bde_CreateL5ChangeTable`,
   * sql:1420-1461) is filtered to this table (P4, sql:1695-1708), the
   * working copy (union of the table's increment files) classified against
   * the current version (J1-J3+J5), and what it changes staged and committed
   * through the tolerance gate; stats mirror `_ver_apply_changes` + the
   * null-update count (sql:1757-1765).
   *
   * The reference pre-filters and indexes the change keys once per table
   * and counts rows with `GET DIAGNOSTICS ROW_COUNT` (sql:1689-1717,
   * 2133-2134). The same fold here: the three change-set-sized sets — this
   * table's change keys, the key-swap-repaired keys and the (key, action)
   * pairs — are each computed once and collected to the driver, as the
   * reference keeps them in `_tmp_inc_change`/`_tmp_inc_actions`. Each is
   * bounded by the day's delta, never by the table. Passed on as local
   * relations they broadcast from the driver without recomputing anything,
   * and the I/U/0/X/D stats are counted there. `cur` and the increment rows
   * stay distributed. Given a driver-local `changeTable` (as
   * [[Orchestrator]] passes it), taking this table's keys runs no Spark job
   * either.
   *
   * Like the reference's `_ver_apply_changes`, the load touches only the
   * changed rows: it stages the change set — the increment rows of the
   * I/U/X keys and the D/U/X keys — with the sink's change-set
   * [[TableSink.stage]], which a [[ParquetTableSink]] stores as a delta on
   * the published chain (its write scans only the increment) and other
   * sinks as a full rewrite. The gate's old count is an observed metric of
   * the classify scan of `cur`, which also observes the current keys in the
   * change set; the new count is old − the current rows of the removed keys
   * + the added rows, observed on the staged write.
   */
  def level5Apply(
      spark: SparkSession,
      sink: TableSink,
      files: Seq[String],
      changeTable: DataFrame,
      tableName: String,
      key: String,
      version: String,
      uniqueCols: Seq[String] = Nil,
      tolError: Option[Double] = None,
      tolWarning: Option[Double] = None,
      clean: DataFrame => DataFrame = identity,
      columnOverrides: Seq[BdeFormat.BdeColumn] = Nil,
      maxFileErrors: Option[Long] = None,
      /** Previous level-5 load's file → END-time map (parsed from the
        * watermark row's details) for the continuity check; empty = skip. */
      prevDetails: Map[String, String] = Map.empty,
      continuityWarnHours: Double = 0,
      continuityFailHours: Double = 0): LoadStats = {
    val read = new TableFiles(spark, files, columnOverrides, clean, maxFileErrors)
    val cur = sink.read()
    val warnings = checkContinuity(files, read.headers, prevDetails,
      continuityWarnHours, continuityFailHours)
    // The increment is change-set-sized (a daily delta, never the big
    // table) and is consumed by the key-swap repair, the classifier and the
    // staged write — cache it so the files are scanned once for the whole
    // load. One try/finally releases it on EVERY exit — returns, aborts,
    // and exceptions from any stage (a failing table otherwise pins its
    // cache for the rest of a 94-table run).
    val inc = read.rows(Some(cur.columns.toSeq)).cache()
    try {
      if (maxFileErrors.isDefined) {
        // one materializing action = each file scanned exactly once; the
        // malformed observations fire here and the budget gates before any
        // classify/merge work runs
        inc.count()
        read.enforceBudget()
      }

      // P4: this table's distinct change keys (case-insensitive table
      // match), cast to the table's key type (int/bigint per
      // bde_TableKeyIsValid)
      val chgDf = changeTable
        .where(lower(col("tablename")) === tableName.toLowerCase)
        .select(col("tablekeyvalue").cast(cur.schema(key).dataType).as(key))
      val chgRows = chgDf.collect().toSeq.distinct
      // early exit on zero changes (sql:1713,1771-1773)
      if (chgRows.isEmpty)
        return LoadStats(tableName, 0, 0, 0, 0, aborted = false, "",
          read.details, warnings)
      val chg = local(spark, chgRows, chgDf.schema)
      // J5 once, collected: the classifier then runs on the repaired keys
      // without repeating the repair
      val repaired =
        if (uniqueCols.isEmpty) chg
        else {
          val fixed = Diff.fixChangedKeys(cur, inc, chg, key, uniqueCols)
          local(spark, fixed.collect().toSeq, fixed.schema)
        }
      // the classify scan counts `cur` and lists its keys in the change set
      // (with their duplicates): the gate's old and removed row counts
      val (curCounted, oldObs) = counted(cur)
      val hitObs = Observation(s"graft_hits_${obsId.incrementAndGet()}")
      val hits = curCounted.join(broadcast(repaired), Seq(key), "left_semi")
        .observe(hitObs, collect_list(col(key)).as("keys"))
      val classified = Diff.classifyChanges(hits, inc, repaired, key, uniqueCols,
        repairKeySwaps = false)
      val actionRows = classified.collect().toSeq
      val counts = actionRows.groupMapReduce(_.getString(1))(_ => 1L)(_ + _)
      def n(a: String) = counts.getOrElse(a, 0L)
      val (added, removed) =
        Diff.changes(inc, local(spark, actionRows, classified.schema), key)
      val (addedRows, addedObs) = counted(added)
      val staged = sink.stage(addedRows, removed, key, version)
      gate(sink, staged, tolError, tolWarning)(() => {
        // Adaptive execution drops the classify scan of `cur`, metrics and
        // all, from the final plan when no current row has a change key;
        // then no current row goes, and only the old count needs a job.
        val oldCount = oldObs.get.get("rows").fold(cur.count())(_.asInstanceOf[Long])
        // keys compare as strings: the action keys take the wider of the
        // current and increment key types
        val curRows = hitObs.get.get("keys").fold(Seq.empty[Any])(
          _.asInstanceOf[scala.collection.Seq[Any]].toSeq)
          .groupMapReduce(String.valueOf)(_ => 1L)(_ + _)
        val removedRows = removed.collect().map(r => String.valueOf(r.get(0))).distinct
          .map(curRows.getOrElse(_, 0L)).sum
        // with no I/U/X key the staged write may evaluate nothing
        val addedCount =
          if (n("I") + n("U") + n("X") == 0) 0L else observedRows(addedObs)
        (oldCount, oldCount - removedRows + addedCount)
      })(_ => LoadStats(tableName, n("I"), n("U") + n("X"), n("0"), n("D"),
          aborted = false, "", read.details, warnings))
    } finally inc.unpersist()
  }

  /** E3: level-0 applied as a diff (`full-incremental`, and the `l5_is_full`
    * table mode): classify via [[Diff.fullDiff]], then commit through the
    * same tolerance gate as E2 (the reference's incremental arm also
    * tolerance-checks, sql:1944). */
  def level0Incremental(
      spark: SparkSession,
      sink: TableSink,
      files: Seq[String],
      key: String,
      version: String,
      clean: DataFrame => DataFrame = identity,
      columnOverrides: Seq[BdeFormat.BdeColumn] = Nil,
      tolError: Option[Double] = None,
      tolWarning: Option[Double] = None,
      maxFileErrors: Option[Long] = None): LoadStats = {
    val read = new TableFiles(spark, files, columnOverrides, clean, maxFileErrors)
    // no continuity check: the reference treats l5_is_full / full-incremental
    // as a level-0 load ($is_level0, lib/LINZ/BdeUpload.pm:926,944-947)
    val cur = if (sink.exists) Some(sink.read()) else None
    val next = read.rows(cur.map(_.columns.toSeq))
    // First-ever load: the reference's table always exists (possibly empty),
    // so its incremental arm degrades to all-inserts; diff against an empty
    // frame with the snapshot's schema gives the same result here. A first
    // load has no published version to count.
    val base = cur.getOrElse(next.limit(0))
    val actions = Diff.fullDiff(base, next, key).cache()
    try {
      val counts = actions.groupBy("action").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      def n(a: String) = counts.getOrElse(a, 0L)
      // The collect above materialized the cached diff, scanning each
      // snapshot file exactly once (fullDiff references `next` once) — the
      // malformed observations are now final, and nothing is staged yet on
      // breach. The snapshot is NOT cached: at 100 TB caching it would
      // spill a full copy to executor disks.
      read.enforceBudget()
      commit(sink, version, cur, tolError, tolWarning)(
        old => Diff.applyActions(old.getOrElse(base), next, actions, key))(
        _ => LoadStats(sink.table, n("I"), n("U"), 0, n("D"), aborted = false,
          "", read.details))
    } finally actions.unpersist()
  }
}
