package graft.bde

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The reference's own end-to-end slice (SURVEY §7.3), replayed against this
 * engine: level-0 load of the `pab1.crs` fixture, then the level-5
 * increment built EXACTLY as `t/linz_bde_uploader.t:1040-1100` builds it
 * (append two rows, then the three sed substitutions), driven by the
 * `xaud.crs` change table. The expected outcome is the reference test's own
 * assertion set (`t/linz_bde_uploader.t:1176-1221`): final table = 5 exact
 * rows, stats = (ninsert=3, nupdate=2, nnullupdate=0, ndelete=1).
 *
 * The slice's `pab1.crs` and `xaud.crs` are rendered from the fixtures'
 * rows kept here (the rows the `s3_bde_read`/`s3_change_read` oracles pin,
 * under the reference files' header END times), so the slice runs without
 * the reference checkout; only the `s3_*` reader rows read [[FixtureDir]],
 * because they test the reader against those exact bytes. The staged
 * repository tree mirrors the reference layout
 * (`level_0/YYYYMMDDhhmmss/...`, README.md:159-161).
 */
object E2E {

  val FixtureDir = "/root/reference/t/data"
  val TableName = "crs_parcel_bndry"
  val KeyColumn = "audit_id"          // conf/tables.conf:168
  val L0Dataset = "20160601000000"
  val L5Dataset = "20170629000000"    // t/linz_bde_uploader.t:1057

  /** `pab1.crs`'s data rows (t/data/pab1.crs:17-19). */
  val Pab1Rows = Seq("4457326|3|11960041|Y|80401150|",
    "4457327|2|29694578|N|80401149|", "4457328|1|29694591|Y|80401148|")
  /** `xaud.crs`'s (tablekeyvalue, action) pairs in id order
    * (t/data/xaud.crs:17-22). */
  val XaudChanges = Seq(80401150 -> "D", 300 -> "I", 400 -> "I", 100 -> "I",
    80401148 -> "U", 80401149 -> "U")

  /** `pab1.crs` holding `rows`: the fixture's columns and header times. */
  def pab1(rows: Seq[String] = Pab1Rows): String =
    OrchestratorScenario.crs(TableName, Seq("pri_id" -> "integer",
      "sequence" -> "integer", "lin_id" -> "integer", "reversed" -> "char",
      "audit_id" -> "integer"), rows,
      start = "2016-06-01 17:12:25", end = "2016-06-01 17:12:25")

  /** `xaud.crs` holding `changes` to `table`, all stamped at the fixture's
    * change time. */
  def xaud(changes: Seq[(Int, String)] = XaudChanges,
      table: String = TableName): String =
    OrchestratorScenario.crs("l5_change_table", Seq("id" -> "integer",
      "tablename" -> "varchar", "tablekeyvalue" -> "integer",
      "action" -> "char", "timestamp" -> "datetime"),
      changes.zipWithIndex.map { case ((k, a), i) =>
        s"${i + 1}|$table|$k|$a|2016-06-01 17:12:17|" },
      start = "2016-06-01 17:12:46", end = "2016-06-01 17:12:46")

  /** The reference test's level-5 fixture mutation
    * (t/linz_bde_uploader.t:1062-1075): append two rows, then per line
    * first-occurrence substitutions (sed applies all three to every line,
    * header included) and the SIZE header update. */
  def mutateLevel5(orig: String): String = {
    val appended = orig +
      "4457329|4|10000000|Y|300|\n" +
      "4457330|5|20000000|Y|400|\n"
    appended.split("\n", -1).map { line =>
      line
        .replaceFirst("\\|80401150\\|", "|100|")
        .replaceFirst("\\|1\\|", "|10|")
        .replaceFirst("\\|2\\|", "|20|")
        .replaceFirst("^SIZE .*", "SIZE 602")
    }.mkString("\n")
  }

  /** Staged repository tree + working dirs for one slice run. */
  final case class Staged(root: Path, l0File: String, l5File: String,
      changeFile: String, tablesDir: String, controlDir: String)

  /** Stage the fixture repository into a fresh temp tree. */
  def stageRepository(): Staged = {
    val root = Files.createTempDirectory("graft-e2e")
    val l0Dir = root.resolve(s"repo/level_0/$L0Dataset")
    val l5Dir = root.resolve(s"repo/level_5/$L5Dataset")
    Files.createDirectories(l0Dir)
    Files.createDirectories(l5Dir)
    Files.writeString(l0Dir.resolve("pab1.crs"), pab1(), StandardCharsets.UTF_8)
    Files.writeString(l5Dir.resolve("pab1.crs"), mutateLevel5(pab1()), StandardCharsets.UTF_8)
    Files.writeString(l5Dir.resolve("xaud.crs"), xaud(), StandardCharsets.UTF_8)
    Staged(root,
      l0Dir.resolve("pab1.crs").toString,
      l5Dir.resolve("pab1.crs").toString,
      l5Dir.resolve("xaud.crs").toString,
      root.resolve("tables").toString,
      root.resolve("control").toString)
  }

  /** Deterministic clock for reproducible control rows. */
  private def fixedClock(at: String): () => Timestamp = {
    val t = Timestamp.valueOf(at)
    () => t
  }

  final case class SliceResult(
      l0Rows: DataFrame,
      finalRows: DataFrame,
      stats: Loader.LoadStats,
      control: Control)

  // The slice is a deterministic fixed-cost fixture replay (fixed clock,
  // fixed inputs) consumed by SIX registered queries; memoizing per session
  // keeps it one run per process instead of six. The staged temp tree and
  // published parquet versions outlive the call, so the memoized
  // DataFrames/Control stay valid for the session's lifetime.
  private val sliceCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SliceResult]()
  private val abortCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (Loader.LoadStats, DataFrame)]()

  /**
   * Run the full slice: job 1 = level-0 replace, job 2 = level-5 apply,
   * with watermark + stats recording (tolerances from conf/tables.conf:168:
   * row_tol=0.20,0.95). Memoized per SparkSession (see above).
   */
  def runSlice(spark: SparkSession): SliceResult =
    sliceCache.computeIfAbsent(spark, runSliceUncached(_))

  private def runSliceUncached(spark: SparkSession): SliceResult = {
    val st = stageRepository()
    val sink = new ParquetTableSink(spark, st.tablesDir, TableName)
    val control = new Control(spark, st.controlDir, fixedClock("2017-06-29 01:00:00"))

    // ---- job 1: level-0 full replace (E1) ----
    val upl1 = control.createUpload("bde").toOption.get
    val s0 = Loader.level0Replace(spark, sink, Seq(st.l0File), L0Dataset)
    val l0Rows = sink.read()
    control.recordDatasetLoaded(upl1, "bde", TableName, L0Dataset, "0",
      incremental = false, details = s0.details,
      ninsert = s0.ninsert, nupdate = 0, nnullupdate = 0, ndelete = 0)
    control.finishUpload(upl1, ok = true)

    // ---- job 2: level-5 increment (E2) ----
    val upl2 = control.createUpload("bde").toOption.get
    val changeTable = BdeFormat.readFile(spark, st.changeFile)

    // L5 start-time continuity check: the loader enforces the new START
    // against the previous LEVEL-5 upload's recorded END times (none here —
    // the previous upload is the level 0, exactly as in the reference run)
    val prev = control.lastUpload("bde", TableName)
      .filter(_.lastUploadType.contains("5"))
      .map(r => Control.parseDetails(r.lastUploadDetails))
      .getOrElse(Map.empty[String, String])
    val stats = Loader.level5Apply(spark, sink, Seq(st.l5File), changeTable,
      TableName, KeyColumn, L5Dataset,
      tolError = Some(0.20), tolWarning = Some(0.95),
      prevDetails = prev, continuityWarnHours = 0.5, continuityFailHours = 0)
    require(stats.warnings.isEmpty,
      s"unexpected warnings: ${stats.warnings.mkString("; ")}")
    control.recordDatasetLoaded(upl2, "bde", TableName, L5Dataset, "5",
      incremental = true, details = stats.details,
      ninsert = stats.ninsert, nupdate = stats.nupdate,
      nnullupdate = stats.nnullupdate, ndelete = stats.ndelete)
    control.finishUpload(upl2, ok = !stats.aborted)

    SliceResult(l0Rows, sink.read(), stats, control)
  }

  /**
   * Tolerance-abort variant: the change table is restricted to its delete
   * row, and the error tolerance is set to 0.95 — the merged table (2 rows
   * vs 3) breaches `ceil(3 * 0.95) = 3`, so the publish must be DISCARDED
   * and the level-0 version must remain visible (sql:2006-2085 semantics).
   */
  def runToleranceAbort(spark: SparkSession): (Loader.LoadStats, DataFrame) =
    abortCache.computeIfAbsent(spark, runToleranceAbortUncached(_))

  private def runToleranceAbortUncached(
      spark: SparkSession): (Loader.LoadStats, DataFrame) = {
    import org.apache.spark.sql.functions._
    val st = stageRepository()
    val sink = new ParquetTableSink(spark, st.tablesDir, TableName)
    Loader.level0Replace(spark, sink, Seq(st.l0File), L0Dataset)
    val deletesOnly = BdeFormat.readFile(spark, st.changeFile)
      .where(col("action") === "D")
    val stats = Loader.level5Apply(spark, sink, Seq(st.l5File), deletesOnly,
      TableName, KeyColumn, L5Dataset,
      tolError = Some(0.95), tolWarning = Some(0.95))
    (stats, sink.read())
  }
}
