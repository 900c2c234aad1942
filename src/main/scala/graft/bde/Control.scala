package graft.bde

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * §2.9 + S7 — the job/metadata layer: the reference's control tables and
 * process semantics (`sql/01-bde_control_tables.sql`,
 * `sql/02-bde_control_functions.sql.in:165-762,975-1071`) as a driver-side
 * state machine over three tiny metadata tables, persisted as parquet.
 *
 * Metadata rows number in the thousands over years of loads — driver-side
 * read-modify-write with an atomic parquet overwrite per mutation is the
 * right scale posture (the DATA goes through [[ParquetTableSink]]; only
 * bookkeeping lives here), mirroring how the reference keeps control tables
 * in ordinary small PG tables next to 100 GB data tables.
 *
 * Covered operators: job lifecycle (create/finish, status U/A/C/E),
 * single-active-job gate, per-table locks with steal, heartbeat, zombie
 * expiry, old-job purge, watermark upsert + stats append
 * (`_bde_RecordDatasetLoaded`), last-upload lookup, F10 details codec, and
 * the L5 start-time continuity check.
 *
 * The clock is injected so every lifecycle decision is deterministic and
 * testable (the reference leans on `clock_timestamp()`).
 */
final class Control(
    spark: SparkSession,
    dir: String,
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    publish: Boolean = false) {

  import Control._

  // S8 — opt-in logical-replication publish (the reference's schema-publish
  // step registers the control tables in a publication; here enabling it
  // makes every save() also append the I/U/D delta to the changelog that
  // [[Publication.subscribe]] tails).
  private val publication: Option[PublicationWriter] =
    if (publish) Some(new PublicationWriter(hadoopConf, dir)) else None

  // In-memory state, persisted to parquet after each mutation (S7 sink).
  private var uploads = Vector.empty[UploadRow]
  private var uploadTables = Vector.empty[UploadTableRow]
  private var stats = Vector.empty[UploadStatsRow]
  private var revisions = Vector.empty[RevisionRow]
  private var nextUploadId = 1
  private var nextTableId = 1
  private var nextStatId = 1
  private var nextRevisionId = FirstRevisionId

  // Per-upload scratch options (`bde_SetOption`/`bde_GetOption`,
  // sql/02-bde_control_functions.sql.in:440-480). The reference keeps them
  // in a per-CONNECTION scratch table that vanishes at disconnect; a
  // process-lifetime map is the same durability class, so these are
  // deliberately NOT persisted.
  private var options = Map.empty[(Int, String), String]

  // Load persisted control state back (the reference's control tables are
  // durable PG tables, sql/01-bde_control_tables.sql — without this a
  // restart would lose every watermark and replay all level-5 datasets,
  // and the single-active gate / zombie expiry would forget running jobs).
  // Read directly with parquet-hadoop (`<name>.parquet` files written by
  // [[save]]); a legacy Spark-written `<name>/` directory is migrated
  // through spark.read once.
  locally {
    val conf = hadoopConf
    def tryRead(name: String): Option[Seq[org.apache.parquet.example.data.Group]] =
      ControlStore.read(conf, s"$dir/$name.parquet")
    def legacyRows(name: String): Option[Array[org.apache.spark.sql.Row]] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else Some(spark.read.parquet(p.toString).collect())
    }
    def str(g: org.apache.parquet.example.data.Group, f: String): String =
      g.getString(f, 0)
    def ts(g: org.apache.parquet.example.data.Group, f: String): Timestamp =
      new Timestamp(g.getLong(f, 0) / 1000L)
    tryRead("upload") match {
      case Some(gs) =>
        uploads = gs.toVector.map(g => UploadRow(
          g.getInteger("id", 0), str(g, "schema_name"),
          ts(g, "start_time"), ts(g, "end_time"), str(g, "status")))
          .sortBy(_.id)
      case None => legacyRows("upload").foreach { rows =>
        uploads = rows.toVector.map(r => UploadRow(
          r.getAs[Int]("id"), r.getAs[String]("schema_name"),
          r.getAs[Timestamp]("start_time"), r.getAs[Timestamp]("end_time"),
          r.getAs[String]("status"))).sortBy(_.id)
      }
    }
    def opt(i: Int): Option[Int] = if (i < 0) None else Some(i)
    def optS(s: String): Option[String] = if (s.isEmpty) None else Some(s)
    tryRead("upload_table") match {
      case Some(gs) =>
        uploadTables = gs.toVector.map(g => UploadTableRow(
          g.getInteger("id", 0), str(g, "schema_name"), str(g, "table_name"),
          opt(g.getInteger("last_upload_id", 0)),
          optS(str(g, "last_upload_dataset")),
          optS(str(g, "last_upload_type")),
          optS(str(g, "last_level0_dataset")),
          g.getBoolean("last_upload_incremental", 0),
          str(g, "last_upload_details"),
          opt(g.getInteger("upl_id_lock", 0)))).sortBy(_.id)
      case None => legacyRows("upload_table").foreach { rows =>
        uploadTables = rows.toVector.map(r => UploadTableRow(
          r.getAs[Int]("id"), r.getAs[String]("schema_name"),
          r.getAs[String]("table_name"),
          opt(r.getAs[Int]("last_upload_id")),
          optS(r.getAs[String]("last_upload_dataset")),
          optS(r.getAs[String]("last_upload_type")),
          optS(r.getAs[String]("last_level0_dataset")),
          r.getAs[Boolean]("last_upload_incremental"),
          r.getAs[String]("last_upload_details"),
          opt(r.getAs[Int]("upl_id_lock")))).sortBy(_.id)
      }
    }
    tryRead("upload_stats") match {
      case Some(gs) =>
        stats = gs.toVector.map(g => UploadStatsRow(
          g.getInteger("id", 0), g.getInteger("upl_id", 0),
          g.getInteger("tbl_id", 0), str(g, "dataset"), str(g, "type"),
          g.getBoolean("incremental", 0), g.getLong("ninsert", 0),
          g.getLong("nupdate", 0), g.getLong("nnullupdate", 0),
          g.getLong("ndelete", 0))).sortBy(_.id)
      case None => legacyRows("upload_stats").foreach { rows =>
        stats = rows.toVector.map(r => UploadStatsRow(
          r.getAs[Int]("id"), r.getAs[Int]("upl_id"), r.getAs[Int]("tbl_id"),
          r.getAs[String]("dataset"), r.getAs[String]("type"),
          r.getAs[Boolean]("incremental"), r.getAs[Long]("ninsert"),
          r.getAs[Long]("nupdate"), r.getAs[Long]("nnullupdate"),
          r.getAs[Long]("ndelete"))).sortBy(_.id)
      }
    }
    tryRead("upload_revision").foreach { gs =>
      revisions = gs.toVector.map { g =>
        val closed = g.getLong("closed_at", 0)
        RevisionRow(
          g.getInteger("revision", 0), g.getInteger("upl_id", 0),
          str(g, "dataset"), str(g, "comment"), ts(g, "revision_time"),
          ts(g, "created_at"),
          if (closed == 0) None else Some(new Timestamp(closed / 1000L)),
          g.getInteger("ntables", 0), g.getBoolean("complete", 0))
      }.sortBy(_.revision)
    }
    nextUploadId = uploads.map(_.id).maxOption.getOrElse(0) + 1
    nextTableId = uploadTables.map(_.id).maxOption.getOrElse(0) + 1
    nextStatId = stats.map(_.id).maxOption.getOrElse(0) + 1
    nextRevisionId =
      math.max(FirstRevisionId, revisions.map(_.revision).maxOption.getOrElse(0) + 1)
  }

  // ---- per-upload options (sql:440-480) ---------------------------------

  /** `bde_SetOption`: None deletes the slot (the reference stores NULL). */
  def setOption(uplId: Int, name: String, value: Option[String]): Unit =
    synchronized {
      value match {
        case Some(v) => options += ((uplId, name) -> v)
        case None    => options -= ((uplId, name))
      }
    }

  /** `bde_GetOption`. */
  def getOption(uplId: Int, name: String): Option[String] =
    synchronized(options.get((uplId, name)))

  // ---- job lifecycle (sql:270-340; status codes sql/01:49,73-78) --------

  /** `bde_CreateUpload` + the single-active-job gate
    * (lib/LINZ/BdeDatabase.pm:377-392): refuse while any job is active. */
  def createUpload(schemaName: String, allowConcurrent: Boolean = false): Either[String, Int] = synchronized {
    if (!allowConcurrent && uploads.exists(_.status == StatusActive))
      Left(s"upload already in progress (ids ${uploads.filter(_.status == StatusActive).map(_.id).mkString(",")})")
    else {
      val id = nextUploadId
      nextUploadId += 1
      uploads :+= UploadRow(id, schemaName, now(), now(), StatusActive)
      save(doUploads = true)
      Right(id)
    }
  }

  /** `bde_FinishUpload` (sql:308-340): C on success, E on error; releases
    * the job's table locks (`_bde_ReleaseLocks`, sql:372-410). */
  def finishUpload(id: Int, ok: Boolean): Unit = synchronized {
    uploads = uploads.map(u =>
      if (u.id == id) u.copy(status = if (ok) StatusComplete else StatusError,
        endTime = now())
      else u)
    uploadTables = uploadTables.map(t =>
      if (t.uplIdLock.contains(id)) t.copy(uplIdLock = None) else t)
    save(doUploads = true, doTables = true)
  }

  /** `_bde_RefreshLock` heartbeat (sql:346-366): bump end_time while alive. */
  def heartbeat(id: Int): Unit = synchronized {
    uploads = uploads.map(u => if (u.id == id) u.copy(endTime = now()) else u)
    save(doUploads = true)
  }

  def upload(id: Int): Option[UploadRow] = synchronized(uploads.find(_.id == id))

  /** A3 — any-active existence aggregate (`bde_anyUploadIsActive`). */
  def anyUploadActive: Boolean = synchronized(uploads.exists(_.status == StatusActive))

  // ---- per-table locks (sql:539-567,592-691) ----------------------------

  /** `_bde_LockTable`; `force` = the `-override-locks` steal path. */
  def lockTable(uplId: Int, tableName: String, force: Boolean = false): Boolean = synchronized {
    val t = tableRow(uploads.find(_.id == uplId).map(_.schemaName).getOrElse(""), tableName)
    t.uplIdLock match {
      case Some(owner) if owner != uplId && !force => false
      case _ =>
        uploadTables = uploadTables.map(r =>
          if (r.id == t.id) r.copy(uplIdLock = Some(uplId)) else r)
        save(doTables = true); true
    }
  }

  def unlockTable(uplId: Int, tableName: String): Unit = synchronized {
    uploadTables = uploadTables.map(r =>
      if (r.tableName == tableName.toLowerCase && r.uplIdLock.contains(uplId))
        r.copy(uplIdLock = None)
      else r)
    save(doTables = true)
  }

  def haveTableLock(uplId: Int, tableName: String): Boolean = synchronized(
    uploadTables.exists(r =>
      r.tableName == tableName.toLowerCase && r.uplIdLock.contains(uplId)))

  // ---- zombie / purge (sql:165-256, 415-435) ----------------------------

  /** `bde_ReleaseExpiredLocks`: an active job whose heartbeat is older than
    * `expiryHours` is a zombie — mark it E and free its locks. Returns the
    * expired ids. */
  def releaseExpiredLocks(expiryHours: Double): Seq[Int] = synchronized {
    val cutoff = now().getTime - (expiryHours * 3600 * 1000).toLong
    val zombies = uploads.filter(u =>
      u.status == StatusActive && u.endTime.getTime < cutoff).map(_.id)
    if (zombies.nonEmpty) {
      uploads = uploads.map(u =>
        if (zombies.contains(u.id)) u.copy(status = StatusError) else u)
      uploadTables = uploadTables.map(t =>
        if (t.uplIdLock.exists(zombies.contains)) t.copy(uplIdLock = None) else t)
      save(doUploads = true, doTables = true)
    }
    zombies
  }

  /** `bde_RemoveOldJobData` (sql:217-256): purge finished jobs older than
    * `expiryDays` that no watermark references, with their stats. */
  def removeOldJobData(expiryDays: Int): Seq[Int] = synchronized {
    val cutoff = now().getTime - expiryDays.toLong * 24 * 3600 * 1000
    val referenced = uploadTables.flatMap(_.lastUploadId).toSet
    val victims = uploads.filter(u =>
      u.status != StatusActive && u.endTime.getTime < cutoff &&
        !referenced.contains(u.id)).map(_.id).toSet
    if (victims.nonEmpty) {
      uploads = uploads.filterNot(u => victims.contains(u.id))
      stats = stats.filterNot(s => victims.contains(s.uplId))
      save(doUploads = true, doStats = true)
    }
    victims.toSeq.sorted
  }

  // ---- watermarks + stats (S7; sql:975-1071) ----------------------------

  /** Get-or-create the `upload_table` row (`bde_GetOrCreateUploadTable`). */
  def tableRow(schemaName: String, tableName: String): UploadTableRow = synchronized {
    val key = tableName.toLowerCase
    uploadTables.find(t => t.tableName == key && t.schemaName == schemaName)
      .getOrElse {
        val r = UploadTableRow(nextTableId, schemaName, key, None, None, None,
          None, incremental = false, "", None)
        nextTableId += 1
        uploadTables :+= r
        save(doTables = true)
        r
      }
  }

  /** `_bde_RecordDatasetLoaded`: upsert the watermark row and append one
    * stats row. Level 0 also advances `last_level0_dataset`. */
  def recordDatasetLoaded(
      uplId: Int,
      schemaName: String,
      tableName: String,
      dataset: String,
      level: String,
      incremental: Boolean,
      details: String,
      ninsert: Long,
      nupdate: Long,
      nnullupdate: Long,
      ndelete: Long): Unit = synchronized {
    val t = tableRow(schemaName, tableName)
    uploadTables = uploadTables.map(r =>
      if (r.id == t.id)
        r.copy(
          lastUploadId = Some(uplId),
          lastUploadDataset = Some(dataset),
          lastUploadType = Some(level),
          lastLevel0Dataset =
            if (level == "0") Some(dataset) else r.lastLevel0Dataset,
          incremental = incremental,
          lastUploadDetails = details)
      else r)
    stats :+= UploadStatsRow(nextStatId, uplId, t.id, dataset, level,
      incremental, ninsert, nupdate, nnullupdate, ndelete)
    nextStatId += 1
    save(doTables = true, doStats = true)
  }

  // ---- dataset revisions (sql:2881-2990) --------------------------------

  /** `bde_CreateDatasetRevision`: allocate a table_version-style revision
    * for the upload's CURRENT dataset (the `_dataset` option, set when the
    * dataset begins) with the dataset name parsed to the revision
    * timestamp, and stash its id in the `_revision` option. The reference
    * test suite drives every load through this pair via the
    * `dataset_load_start_sql`/`dataset_load_end_sql` slots
    * (t/linz_bde_uploader.t:630-638). */
  def createDatasetRevision(uplId: Int): Either[String, Int] = synchronized {
    getOption(uplId, "_dataset") match {
      case None | Some("(undefined dataset)") =>
        Left("A dataset has not been defined for this upload yet")
      case Some(ds) =>
        parseDatasetTimestamp(ds) match {
          case None => Left(s"Dataset string '$ds' is malformed")
          case Some(revTs) =>
            val rev = nextRevisionId
            nextRevisionId += 1
            revisions :+= RevisionRow(rev, uplId, ds,
              s"BDE upload for dataset $ds", revTs, now(), None, 0,
              complete = false)
            setOption(uplId, "_revision", Some(rev.toString))
            save(doRevisions = true)
            Right(rev)
        }
    }
  }

  /** `bde_CompleteDatasetRevision`: close the in-progress revision. The
    * reference counts this upload+dataset's stats rows against
    * `ver_get_modified_tables(revision)` and DELETES an unused revision
    * (`ver_delete_revision`) — here a table is "modified" when its stats
    * row applied any real action (I/U/D; null-updates touch nothing).
    * Returns the surviving revision id, or None when it was unused and
    * deleted. */
  def completeDatasetRevision(uplId: Int): Either[String, Option[Int]] =
    synchronized {
      getOption(uplId, "_dataset") match {
        case None | Some("(undefined dataset)") =>
          Left("A dataset has not been defined for this upload yet")
        case Some(ds) =>
          getOption(uplId, "_revision").map(_.toInt) match {
            case None => Left("There is no revision in progress")
            case Some(rev) =>
              val ntab = stats.count(st =>
                st.uplId == uplId && st.dataset == ds &&
                  st.ninsert + st.nupdate + st.ndelete > 0)
              if (ntab == 0) revisions = revisions.filterNot(_.revision == rev)
              else revisions = revisions.map(r =>
                if (r.revision == rev)
                  r.copy(closedAt = Some(now()), ntables = ntab, complete = true)
                else r)
              setOption(uplId, "_revision", None)
              save(doRevisions = true)
              Right(if (ntab == 0) None else Some(rev))
          }
      }
    }

  def revisionRecords: Seq[RevisionRow] = synchronized(revisions)

  /** Last-upload lookup for the continuity check (lib:944-958). */
  def lastUpload(schemaName: String, tableName: String): Option[UploadTableRow] =
    synchronized(uploadTables.find(t =>
      t.tableName == tableName.toLowerCase && t.schemaName == schemaName))

  // ---- DataFrame views (what the reference exposes as control tables) ---

  def uploadsDf: DataFrame = {
    import spark.implicits._
    uploads.map(u => (u.id, u.schemaName, u.status))
      .toDF("id", "schema_name", "status")
  }

  def uploadTablesDf: DataFrame = {
    import spark.implicits._
    uploadTables.map(t => (t.id, t.schemaName, t.tableName,
        t.lastUploadId.getOrElse(-1), t.lastUploadDataset.getOrElse(""),
        t.lastUploadType.getOrElse(""), t.lastLevel0Dataset.getOrElse(""),
        t.incremental, t.lastUploadDetails, t.uplIdLock.getOrElse(-1)))
      .toDF("id", "schema_name", "table_name", "last_upload_id",
        "last_upload_dataset", "last_upload_type", "last_level0_dataset",
        "last_upload_incremental", "last_upload_details", "upl_id_lock")
  }

  def statsDf: DataFrame = {
    import spark.implicits._
    stats.map(s => (s.id, s.uplId, s.tblId, s.dataset, s.level, s.incremental,
        s.ninsert, s.nupdate, s.nnullupdate, s.ndelete))
      .toDF("id", "upl_id", "tbl_id", "dataset", "type", "incremental",
        "ninsert", "nupdate", "nnullupdate", "ndelete")
  }

  def revisionsDf: DataFrame = {
    import spark.implicits._
    revisions.map(r => (r.revision, r.uplId, r.dataset, r.comment,
        r.revisionTime, r.createdAt,
        r.closedAt.orNull: Timestamp, r.ntables, r.complete))
      .toDF("revision", "upl_id", "dataset", "comment", "revision_time",
        "created_at", "closed_at", "ntables", "complete")
  }

  def statRecords: Seq[UploadStatsRow] = synchronized(stats)
  def uploadTableRecords: Seq[UploadTableRow] = synchronized(uploadTables)

  /** Persist ONLY the mutated control tables. Written DIRECTLY by the
    * driver via parquet-hadoop (`ExampleParquetWriter`) and swapped in by
    * [[ControlStore.replaceFile]] (one `rename(2)` on the local file system,
    * a `FileContext` OVERWRITE rename elsewhere) — a control mutation is a
    * few-millisecond file write, never a scheduled Spark job (the old
    * `toDF.coalesce(1).write` path cost a full job per mutation: thousands
    * of cluster round-trips across a 94-table run, and a crash
    * mid-`mode("overwrite")` could leave no control state at all). The persisted upload file carries the
    * start/end timestamps the 3-column [[uploadsDf]] view omits, so a
    * restarted process recovers heartbeats for zombie expiry. */
  private def save(
      doUploads: Boolean = false,
      doTables: Boolean = false,
      doStats: Boolean = false,
      doRevisions: Boolean = false): Unit = {
    if (doUploads) ControlStore.write(hadoopConf, s"$dir/upload.parquet",
      ControlStore.UploadSchema, uploads)(ControlStore.uploadGroup)
    if (doTables) ControlStore.write(hadoopConf, s"$dir/upload_table.parquet",
      ControlStore.TableSchema, uploadTables)(ControlStore.tableGroup)
    if (doStats) ControlStore.write(hadoopConf, s"$dir/upload_stats.parquet",
      ControlStore.StatsSchema, stats)(ControlStore.statsGroup)
    if (doRevisions) ControlStore.write(hadoopConf,
      s"$dir/upload_revision.parquet",
      ControlStore.RevisionSchema, revisions)(ControlStore.revisionGroup)
    publication.foreach { p =>
      if (doUploads) p.publishUploads(uploads)
      if (doTables) p.publishTables(uploadTables)
      if (doStats) p.publishStats(stats)
    }
  }

  private def hadoopConf = spark.sparkContext.hadoopConfiguration
}

object Control {

  val StatusActive = "A"
  val StatusComplete = "C"
  val StatusError = "E"

  final case class UploadRow(
      id: Int, schemaName: String, startTime: Timestamp, endTime: Timestamp,
      status: String)

  final case class UploadTableRow(
      id: Int, schemaName: String, tableName: String,
      lastUploadId: Option[Int], lastUploadDataset: Option[String],
      lastUploadType: Option[String], lastLevel0Dataset: Option[String],
      incremental: Boolean, lastUploadDetails: String, uplIdLock: Option[Int])

  final case class UploadStatsRow(
      id: Int, uplId: Int, tblId: Int, dataset: String, level: String,
      incremental: Boolean, ninsert: Long, nupdate: Long, nnullupdate: Long,
      ndelete: Long)

  /** One table_version-style dataset revision
    * (`bde_CreateDatasetRevision`, sql:2881-2925): `revisionTime` is the
    * dataset name parsed as a timestamp, `createdAt`/`closedAt` the clock
    * at begin/complete, `ntables` how many of the upload's tables the
    * revision actually modified. */
  final case class RevisionRow(
      revision: Int, uplId: Int, dataset: String, comment: String,
      revisionTime: Timestamp, createdAt: Timestamp,
      closedAt: Option[Timestamp], ntables: Int, complete: Boolean)

  /** Revision ids start above upload/table id space so the two id families
    * are never confused in diagnostics (the reference's revision ids come
    * from table_version's own sequence, similarly disjoint in practice). */
  val FirstRevisionId = 1001

  private val DatasetShape = """^\d{14}$""".r

  /** `YYYYMMDDhhmmss` → Timestamp; None for a malformed name (the
    * reference raises 'Dataset string is malformed', sql:2895-2911). */
  def parseDatasetTimestamp(ds: String): Option[Timestamp] =
    DatasetShape.findFirstIn(ds).flatMap { _ =>
      try Some(Timestamp.valueOf(
        s"${ds.substring(0, 4)}-${ds.substring(4, 6)}-${ds.substring(6, 8)} " +
          s"${ds.substring(8, 10)}:${ds.substring(10, 12)}:${ds.substring(12, 14)}"))
      catch { case _: IllegalArgumentException => None }
    }

  // ---- F10: details-string codec (lib/LINZ/BdeUpload.pm:950-972) --------

  /** "BdeUpload file1 end1 file2 end2 ..." — ends are
    * `YYYY-MM-DD hh:mm:ss` (they contain a space; the parse regex keys on
    * the timestamp shape, as the reference's does). */
  def buildDetails(fileEnds: Seq[(String, String)]): String =
    ("BdeUpload" +: fileEnds.map { case (f, e) => s"$f $e" }).mkString(" ")

  private val DetailsRe =
    """(\S+)\s+(\d{4}-\d\d-\d\d\s+\d\d:\d\d:\d\d)""".r
  private val DetailsShape =
    """^BdeUpload(\s+\S+\s+\d{4}-\d\d-\d\d\s+\d\d:\d\d:\d\d)+\s*$""".r

  /** Parse back to file → end-time (case-folded keys like the reference). */
  def parseDetails(details: String): Map[String, String] =
    if (DetailsShape.findFirstIn(details).isEmpty) Map.empty
    else DetailsRe.findAllMatchIn(details)
      .map(m => m.group(1).toLowerCase -> m.group(2)).toMap

  // ---- L5 start-time continuity check (lib/LINZ/BdeUpload.pm:1070-1100) -

  sealed trait ContinuityResult
  case object ContinuityOk extends ContinuityResult
  final case class ContinuityWarn(diffHours: Double) extends ContinuityResult
  final case class ContinuityFail(diffHours: Double) extends ContinuityResult

  private val TsShape = """^\d{4}-\d\d-\d\d \d\d:\d\d:\d\d$""".r

  /** |start − previous end| in hours vs warn/fail tolerances; tolerance 0
    * disables that level, malformed timestamps are a warn-and-continue
    * (exactly the reference's behavior). */
  def checkStartDate(
      startTime: String,
      prevEndTime: String,
      warnTolHours: Double,
      failTolHours: Double): ContinuityResult = {
    if (startTime == prevEndTime) return ContinuityOk
    if (TsShape.findFirstIn(startTime).isEmpty ||
        TsShape.findFirstIn(prevEndTime).isEmpty) return ContinuityOk
    val s = Timestamp.valueOf(startTime).getTime
    val e = Timestamp.valueOf(prevEndTime).getTime
    val diff = math.abs(s - e) / 3600000.0
    if (failTolHours > 0 && diff > failTolHours) ContinuityFail(diff)
    else if (warnTolHours > 0 && diff > warnTolHours) ContinuityWarn(diff)
    else ContinuityOk
  }

  // ---- timeouts (lib/LINZ/BdeUpload.pm:534-557) -------------------------

  /** Deadline checked between stages; breach cancels the run. The message
    * is the reference's SetTimeout message parameter
    * (lib/LINZ/BdeUpload.pm:534-544). */
  final class JobTimeout(
      maxHours: Double,
      now: () => Timestamp,
      message: String = "job timeout exceeded") {
    private val deadline: Option[Long] =
      if (maxHours > 0) Some(now().getTime + (maxHours * 3600 * 1000).toLong)
      else None
    def expired: Boolean = deadline.exists(now().getTime > _)
    def check(): Unit =
      if (expired) throw new RuntimeException(message)
  }
}

/**
 * Direct driver-side parquet I/O for the three control tables: a control
 * mutation is a metadata write of a few KB, so it renders the rows with
 * parquet-hadoop's example writer in memory and swaps the file in with
 * [[replaceFile]], instead of scheduling a Spark job. Schemas use INT64
 * TIMESTAMP(MICROS) and the same sentinel encodings (-1 / "") as the
 * DataFrame views.
 */
private[bde] object ControlStore {

  import java.nio.file.{Files, StandardCopyOption}

  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{CreateFlag, FileContext, LocalFileSystem, Options, Path}
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroup
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
  import org.apache.parquet.io.{OutputFile, PositionOutputStream}
  import org.apache.parquet.schema.{MessageType, MessageTypeParser}

  import Control._

  val UploadSchema: MessageType = MessageTypeParser.parseMessageType(
    """message upload {
      |  required int32 id;
      |  required binary schema_name (STRING);
      |  required binary status (STRING);
      |  required int64 start_time (TIMESTAMP(MICROS,true));
      |  required int64 end_time (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  val TableSchema: MessageType = MessageTypeParser.parseMessageType(
    """message upload_table {
      |  required int32 id;
      |  required binary schema_name (STRING);
      |  required binary table_name (STRING);
      |  required int32 last_upload_id;
      |  required binary last_upload_dataset (STRING);
      |  required binary last_upload_type (STRING);
      |  required binary last_level0_dataset (STRING);
      |  required boolean last_upload_incremental;
      |  required binary last_upload_details (STRING);
      |  required int32 upl_id_lock;
      |}""".stripMargin)

  val StatsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message upload_stats {
      |  required int32 id;
      |  required int32 upl_id;
      |  required int32 tbl_id;
      |  required binary dataset (STRING);
      |  required binary type (STRING);
      |  required boolean incremental;
      |  required int64 ninsert;
      |  required int64 nupdate;
      |  required int64 nnullupdate;
      |  required int64 ndelete;
      |}""".stripMargin)

  val RevisionSchema: MessageType = MessageTypeParser.parseMessageType(
    """message upload_revision {
      |  required int32 revision;
      |  required int32 upl_id;
      |  required binary dataset (STRING);
      |  required binary comment (STRING);
      |  required int64 revision_time (TIMESTAMP(MICROS,true));
      |  required int64 created_at (TIMESTAMP(MICROS,true));
      |  required int64 closed_at (TIMESTAMP(MICROS,true));
      |  required int32 ntables;
      |  required boolean complete;
      |}""".stripMargin)

  private def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L

  def uploadGroup(schema: MessageType, u: UploadRow): Group = {
    val g = new SimpleGroup(schema)
    g.add("id", u.id)
    g.add("schema_name", u.schemaName)
    g.add("status", u.status)
    g.add("start_time", micros(u.startTime))
    g.add("end_time", micros(u.endTime))
    g
  }

  def tableGroup(schema: MessageType, t: UploadTableRow): Group = {
    val g = new SimpleGroup(schema)
    g.add("id", t.id)
    g.add("schema_name", t.schemaName)
    g.add("table_name", t.tableName)
    g.add("last_upload_id", t.lastUploadId.getOrElse(-1))
    g.add("last_upload_dataset", t.lastUploadDataset.getOrElse(""))
    g.add("last_upload_type", t.lastUploadType.getOrElse(""))
    g.add("last_level0_dataset", t.lastLevel0Dataset.getOrElse(""))
    g.add("last_upload_incremental", t.incremental)
    g.add("last_upload_details", t.lastUploadDetails)
    g.add("upl_id_lock", t.uplIdLock.getOrElse(-1))
    g
  }

  def statsGroup(schema: MessageType, s: UploadStatsRow): Group = {
    val g = new SimpleGroup(schema)
    g.add("id", s.id)
    g.add("upl_id", s.uplId)
    g.add("tbl_id", s.tblId)
    g.add("dataset", s.dataset)
    g.add("type", s.level)
    g.add("incremental", s.incremental)
    g.add("ninsert", s.ninsert)
    g.add("nupdate", s.nupdate)
    g.add("nnullupdate", s.nnullupdate)
    g.add("ndelete", s.ndelete)
    g
  }

  def revisionGroup(schema: MessageType, r: RevisionRow): Group = {
    val g = new SimpleGroup(schema)
    g.add("revision", r.revision)
    g.add("upl_id", r.uplId)
    g.add("dataset", r.dataset)
    g.add("comment", r.comment)
    g.add("revision_time", micros(r.revisionTime))
    g.add("created_at", micros(r.createdAt))
    g.add("closed_at", r.closedAt.map(micros).getOrElse(0L))
    g.add("ntables", r.ntables)
    g.add("complete", r.complete)
    g
  }

  /** Write rows to `path`, swapped in by [[replaceFile]] through a HIDDEN
    * `.<name>.tmp` sibling — a reader (or a crash) never observes a partial
    * control table. The dot prefix matters beyond crash safety: Spark's
    * file listing hides only `.`/`_`-prefixed entries, so an un-hidden
    * `<name>.tmp` staged in the SAME directory could be listed mid-write by
    * a concurrent batch read or a live `subscribe()` stream over a
    * publication changelog and fail with a parquet-footer error. */
  def write[T](
      conf: Configuration,
      path: String,
      schema: MessageType,
      rows: Seq[T])(mk: (MessageType, T) => Group): Unit = {
    val file = new BytesOutputFile
    val writer = ExampleParquetWriter.builder(file).withConf(WriterConf)
      .withType(schema).build()
    try rows.foreach(r => writer.write(mk(schema, r)))
    finally writer.close()
    val target = new Path(path)
    replaceFile(conf, target, "." + target.getName + ".tmp", file.bytes.toByteArray)
  }

  /** Replace `target` with `bytes`: write the sibling `tmpName`, then rename
    * it onto `target`. Readers see the old file or the new one, never a
    * partial or a missing file.
    *
    * On the local file system (any `LocalFileSystem`, subclasses included)
    * this is `java.nio`: the rename is one `rename(2)`, and no process is
    * spawned (Hadoop's local create and `FileContext` rename fork `chmod`
    * and `readlink` when the native library is absent). The target's stale
    * `.crc` sidecar is deleted BEFORE the rename: a reader between the two
    * steps reads the old file unverified, where the reverse order would let
    * it check the new file against the old checksum. Other schemes create
    * the temp file and rename with `FileContext` OVERWRITE, which is atomic
    * on HDFS (`rename2`); object stores give no atomic rename. */
  def replaceFile(conf: Configuration, target: Path, tmpName: String,
      bytes: Array[Byte]): Unit = {
    val fs = target.getFileSystem(conf)
    val qTarget = fs.makeQualified(target)
    fs match {
      case local: LocalFileSystem =>
        val file = local.pathToFile(qTarget).toPath
        val tmp = file.resolveSibling(tmpName)
        Files.createDirectories(file.getParent)
        Files.write(tmp, bytes)
        Files.deleteIfExists(local.pathToFile(local.getChecksumFile(qTarget)).toPath)
        Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
      case _ =>
        val fc = FileContext.getFileContext(qTarget.toUri, conf)
        val tmp = new Path(qTarget.getParent, tmpName)
        val out = fc.create(tmp,
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(bytes) finally out.close()
        fc.rename(tmp, qTarget, Options.Rename.OVERWRITE)
    }
  }

  /** The writer's settings: a default `Configuration`, as the builder
    * creates when given none, built once — a fresh one re-parses Hadoop's
    * default resources on every write. */
  private lazy val WriterConf = new Configuration()

  /** A parquet output file held in memory (control files are a few KB). */
  private final class BytesOutputFile extends OutputFile {
    val bytes = new java.io.ByteArrayOutputStream
    def create(blockSizeHint: Long): PositionOutputStream = new PositionOutputStream {
      def getPos: Long = bytes.size.toLong
      def write(b: Int): Unit = bytes.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        bytes.write(b, off, len)
    }
    def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = create(blockSizeHint)
    def supportsBlockSize: Boolean = false
    def defaultBlockSize: Long = 0L
  }

  /** Read all groups of one control file; None when it does not exist. */
  def read(conf: Configuration, path: String): Option[Seq[Group]] = {
    val p = new Path(path)
    if (!p.getFileSystem(conf).exists(p)) return None
    val reader: ParquetReader[Group] =
      ParquetReader.builder(new GroupReadSupport(), p).withConf(conf).build()
    try {
      val out = Vector.newBuilder[Group]
      var g = reader.read()
      while (g != null) { out += g; g = reader.read() }
      Some(out.result())
    } finally reader.close()
  }
}
