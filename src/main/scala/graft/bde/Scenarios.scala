package graft.bde

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Deterministic multi-table, multi-dataset orchestrator scenario — the
 * engine-level replay of the reference's staged-repository test layout
 * (t/linz_bde_uploader.t builds datasets under level_0/level_5 and drives
 * the CLI through them). Exercises, in ONE run: COLUMN catalog overrides
 * replacing a file header, the cleanser on the real load path (en-dash
 * replacement + timestamp sentinel repair), multi-dataset level-5 chaining
 * with I/U/0/D actions, error-skip after a poisoned table, and
 * incomplete-dataset skip (missing change file).
 *
 * Everything is synthetic and fixed — the expected outcomes are hand-
 * computed literals in `SparkEntry.oracleSql`, the independent-oracle
 * pattern used for the E2E slice.
 */
object OrchestratorScenario {

  /** Render one BDE file: header + pipe-rows (each row pre-terminated). */
  def crs(table: String, cols: Seq[(String, String)], rows: Seq[String],
      start: String = "2020-01-01 00:00:00",
      end: String = "2020-01-01 01:00:00"): String =
    s"""HEDR  2.0.0
       |SOFTWARE graft V1
       |SCHEMA  V1.0
       |USER  test
       |START  $start
       |END  $end
       |SQL  SELECT
       |TABLE  $table
       |""".stripMargin +
      cols.map { case (n, t) => s"COLUMN  $n $t NULL" }.mkString("", "\n", "\n") +
      s"DESC\nSIZE  ${rows.size}\n{CRS-DATA}\n" +
      rows.map(_ + "\n").mkString

  val TablesConf: String =
    """TABLE l5_change_table files xchg
      |TABLE t_alpha key=id row_tol=0.10,0.50 files alp
      |COLUMN id integer NOT NULL
      |COLUMN name varchar
      |COLUMN born datetime
      |TABLE t_beta key=id files bet
      |""".stripMargin

  // The alpha FILE header deliberately declares useless names/types — the
  // catalog COLUMN overrides must replace them for the load to work at all.
  private val AlphaFileCols = Seq("c1" -> "varchar", "c2" -> "varchar", "c3" -> "varchar")
  private val BetaCols = Seq("id" -> "integer", "val" -> "varchar")
  private val ChangeCols = Seq("id" -> "integer", "tablename" -> "varchar",
    "tablekeyvalue" -> "integer", "action" -> "char")

  /** Stage the 4-dataset repository; returns (root, tablesDir, controlDir). */
  def stage(): (Path, String, String) = {
    val root = Files.createTempDirectory("graft-orch")
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content, StandardCharsets.UTF_8)
    }
    // L0: alpha has a dirty string (en dash) and a pre-1800 timestamp
    write("repo/level_0/20200101000000/alp.crs", crs("t_alpha", AlphaFileCols, Seq(
      "1|hello – world|2020-01-01 00:00:00|",
      "2|ok|1750-01-01 00:00:00|",
      "3|plain|2021-05-05 12:00:00|")))
    write("repo/level_0/20200101000000/bet.crs", crs("t_beta", BetaCols, Seq(
      "1|x|", "2|y|")))
    // L5 dataset 1: alpha U+I; beta file poisoned (zero column overlap)
    write("repo/level_5/20200202000000/xchg.crs", crs("xchg", ChangeCols, Seq(
      "1|t_alpha|2|U|", "2|t_alpha|4|I|", "3|t_beta|1|U|")))
    write("repo/level_5/20200202000000/alp.crs", crs("t_alpha", AlphaFileCols, Seq(
      "2|okay|1750-01-01 00:00:00|",
      "4|four – d|2022-02-02 02:02:02|")))
    write("repo/level_5/20200202000000/bet.crs", crs("t_beta",
      Seq("zot" -> "varchar"), Seq("9|")))
    // L5 dataset 2: alpha D + null-update; beta healthy but error-skipped
    write("repo/level_5/20200303000000/xchg.crs", crs("xchg", ChangeCols, Seq(
      "1|t_alpha|1|D|", "2|t_alpha|3|U|")))
    write("repo/level_5/20200303000000/alp.crs", crs("t_alpha", AlphaFileCols, Seq(
      "3|plain|2021-05-05 12:00:00|")))
    write("repo/level_5/20200303000000/bet.crs", crs("t_beta", BetaCols, Seq(
      "1|xx|")))
    // L5 dataset 3: INCOMPLETE — change file missing
    write("repo/level_5/20200404000000/alp.crs", crs("t_alpha", AlphaFileCols, Seq(
      "3|plain|2021-05-05 12:00:00|")))
    write("repo/level_5/20200404000000/bet.crs", crs("t_beta", BetaCols, Seq(
      "1|xx|")))
    (root, root.resolve("tables").toString, root.resolve("control").toString)
  }

  final case class Result(
      outcomes: Seq[Orchestrator.TableOutcome],
      control: Control,
      alphaRows: DataFrame,
      betaRows: DataFrame,
      controlDir: String)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Result]()

  /** Run the scenario once per session (two registered queries consume it). */
  def run(spark: SparkSession): Result =
    cache.computeIfAbsent(spark, runUncached(_))

  private def runUncached(spark: SparkSession): Result = {
    val (root, tablesDir, controlDir) = stage()
    val (cat, errs) = Catalog.parse(TablesConf.linesIterator)
    require(errs.isEmpty, s"catalog errors: $errs")
    // publish = true: the e2e scenario doubles as the S8 publication
    // fixture — every control mutation of the replay lands in the changelog
    // that the s8_* queries subscribe to and replay.
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"), publish = true)
    val outcomes = Orchestrator.applyUpdates(spark,
      Orchestrator.RunConfig(
        repoRoot = root.resolve("repo").toString,
        tablesDir = tablesDir,
        controlDir = controlDir),
      cat, level0 = true, level5 = true, control)
    Result(outcomes, control,
      new ParquetTableSink(spark, tablesDir, "t_alpha").read(),
      new ParquetTableSink(spark, tablesDir, "t_beta").read(),
      controlDir)
  }

  /** The same staged repository in dry-run mode: full plan reported, zero
    * control/table writes (lib/LINZ/BdeUpload.pm:559-609). */
  def runDryRun(spark: SparkSession): (Seq[Orchestrator.TableOutcome], Control) = {
    val (root, tablesDir, controlDir) = stage()
    val (cat, errs) = Catalog.parse(TablesConf.linesIterator)
    require(errs.isEmpty, s"catalog errors: $errs")
    val control = new Control(spark, controlDir,
      () => java.sql.Timestamp.valueOf("2020-06-01 00:00:00"))
    val outcomes = Orchestrator.applyUpdates(spark,
      Orchestrator.RunConfig(
        repoRoot = root.resolve("repo").toString,
        tablesDir = tablesDir, controlDir = controlDir, dryRun = true),
      cat, level0 = true, level5 = true, control)
    (outcomes, control)
  }

  // ---- L5 start-time continuity gate -------------------------------------

  /** Four-increment repository exercising every continuity outcome against
    * warn=1h / fail=5h tolerances (reference CheckStartDate,
    * lib/LINZ/BdeUpload.pm:1070-1100):
    *  - ds1: previous upload is the LEVEL 0 → no check, loads clean;
    *  - ds2: START 2h after ds1's END → loads with a WARNING;
    *  - ds3: START 12h after ds2's END → FAILS at the fail tolerance;
    *  - ds4: healthy, but error-skipped after ds3's failure.
    */
  def stageContinuity(): (Path, String, String) = {
    val root = Files.createTempDirectory("graft-continuity")
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content, StandardCharsets.UTF_8)
    }
    val gapCols = Seq("id" -> "integer", "v" -> "varchar")
    def chg(ds: Int): String = crs("xchg", ChangeCols, Seq("1|t_gap|2|U|"),
      start = s"2021-0$ds-01 00:00:00", end = s"2021-0$ds-01 01:00:00")
    write("repo/level_0/20210101000000/gap.crs", crs("t_gap", gapCols,
      Seq("1|a|", "2|b|", "3|c|"),
      start = "2021-01-01 00:00:00", end = "2021-01-01 01:00:00"))
    // ds1: start == nothing to check (prev upload is the L0)
    write("repo/level_5/20210201000000/xchg.crs", chg(2))
    write("repo/level_5/20210201000000/gap.crs", crs("t_gap", gapCols,
      Seq("2|b2|"),
      start = "2021-01-01 01:00:00", end = "2021-02-01 01:00:00"))
    // ds2: start 2h after ds1's recorded end → warn (1 < 2 ≤ 5)
    write("repo/level_5/20210301000000/xchg.crs", chg(3))
    write("repo/level_5/20210301000000/gap.crs", crs("t_gap", gapCols,
      Seq("2|b3|"),
      start = "2021-02-01 03:00:00", end = "2021-03-01 01:00:00"))
    // ds3: start 12h after ds2's recorded end → fail (12 > 5)
    write("repo/level_5/20210401000000/xchg.crs", chg(4))
    write("repo/level_5/20210401000000/gap.crs", crs("t_gap", gapCols,
      Seq("2|b4|"),
      start = "2021-03-01 13:00:00", end = "2021-04-01 01:00:00"))
    // ds4: healthy increment, skipped by error-skip
    write("repo/level_5/20210501000000/xchg.crs", chg(5))
    write("repo/level_5/20210501000000/gap.crs", crs("t_gap", gapCols,
      Seq("2|b5|"),
      start = "2021-04-01 01:00:00", end = "2021-05-01 01:00:00"))
    (root, root.resolve("tables").toString, root.resolve("control").toString)
  }

  val ContinuityTablesConf: String =
    """TABLE l5_change_table files xchg
      |TABLE t_gap key=id files gap
      |""".stripMargin

  private val continuityCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (Seq[Orchestrator.TableOutcome], Control)]()

  def runContinuityGate(spark: SparkSession): (Seq[Orchestrator.TableOutcome], Control) =
    continuityCache.computeIfAbsent(spark, { s: SparkSession =>
      val (root, tablesDir, controlDir) = stageContinuity()
      val (cat, errs) = Catalog.parse(ContinuityTablesConf.linesIterator)
      require(errs.isEmpty, s"catalog errors: $errs")
      val control = new Control(s, controlDir,
        () => java.sql.Timestamp.valueOf("2021-06-01 00:00:00"))
      val outcomes = Orchestrator.applyUpdates(s,
        Orchestrator.RunConfig(
          repoRoot = root.resolve("repo").toString,
          tablesDir = tablesDir, controlDir = controlDir,
          continuityWarnHours = 1, continuityFailHours = 5),
        cat, level0 = true, level5 = true, control)
      (outcomes, control)
    })

  // ---- unique= key-swap repair on the orchestrated path ------------------

  /** One level-5 increment against `TABLE t_uniq key=id unique=code`:
    *  - the change table lists keys 4 (new row, code A) and 2 (update);
    *  - current row 1 ALSO has code A → the key-swap repair
    *    (`_bde_FixChangedIncKeyRecords`, sql:2146-2226) must pull key 1 into
    *    the change set and delete it, else the unique constraint on `code`
    *    would break on apply;
    *  - row 2's update changes `code` B→D → classified 'X'
    *    (delete+insert semantics, sql:2335-2357), counted as an update.
    * Expected stats: I=1, U(=X)=1, D=1; final rows (2,D,y2) (3,C,z) (4,A,n4).
    */
  def stageKeySwap(): (Path, String, String) = {
    val root = Files.createTempDirectory("graft-keyswap")
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content, StandardCharsets.UTF_8)
    }
    val cols = Seq("id" -> "integer", "code" -> "varchar", "v" -> "varchar")
    write("repo/level_0/20220101000000/unq.crs", crs("t_uniq", cols,
      Seq("1|A|x|", "2|B|y|", "3|C|z|")))
    write("repo/level_5/20220202000000/xchg.crs", crs("xchg", ChangeCols,
      Seq("1|t_uniq|4|I|", "2|t_uniq|2|U|")))
    write("repo/level_5/20220202000000/unq.crs", crs("t_uniq", cols,
      Seq("2|D|y2|", "4|A|n4|")))
    (root, root.resolve("tables").toString, root.resolve("control").toString)
  }

  val KeySwapTablesConf: String =
    """TABLE l5_change_table files xchg
      |TABLE t_uniq key=id unique=code files unq
      |""".stripMargin

  final case class KeySwapResult(
      outcomes: Seq[Orchestrator.TableOutcome], finalRows: DataFrame)

  private val keySwapCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, KeySwapResult]()

  def runKeySwap(spark: SparkSession): KeySwapResult =
    keySwapCache.computeIfAbsent(spark, { s: SparkSession =>
      val (root, tablesDir, controlDir) = stageKeySwap()
      val (cat, errs) = Catalog.parse(KeySwapTablesConf.linesIterator)
      require(errs.isEmpty, s"catalog errors: $errs")
      val control = new Control(s, controlDir,
        () => java.sql.Timestamp.valueOf("2022-06-01 00:00:00"))
      val outcomes = Orchestrator.applyUpdates(s,
        Orchestrator.RunConfig(
          repoRoot = root.resolve("repo").toString,
          tablesDir = tablesDir, controlDir = controlDir),
        cat, level0 = true, level5 = true, control)
      KeySwapResult(outcomes,
        new ParquetTableSink(s, tablesDir, "t_uniq").read())
    })

  // ---- orchestrated `-j | -full-incremental` run -------------------------

  /** Two level-0 datasets of the pab1 fixture, driven through the
    * orchestrator with `level0AsDiff = true` — the CLI's `-j |
    * -full-incremental` mode (bin/linz_bde_uploader.pl:86,118-128;
    * `$is_incremental = apply_level0_inc || level5_is_full`,
    * lib/LINZ/BdeUpload.pm:961,980):
    *  - run 1 (before=2017): first-ever load of the original snapshot —
    *    the diff arm against the empty table inserts all 3 rows and the
    *    watermark records `incremental = true`;
    *  - run 2: the mutated snapshot (the E2E level-5 fixture, which IS a
    *    full snapshot) applied as a computed diff — I=3, U=2, D=1, final
    *    table = the same 5 rows as `e2_level5_final`.
    */
  final case class FullIncResult(
      run1: Seq[Orchestrator.TableOutcome],
      run2: Seq[Orchestrator.TableOutcome],
      wmIncremental1: Option[Boolean],
      wmIncremental2: Option[Boolean],
      rows1: Long,
      finalRows: DataFrame)

  val FullIncTablesConf: String =
    "TABLE crs_parcel_bndry key=audit_id row_tol=0.20,0.95 files pab\n"

  private val fullIncCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, FullIncResult]()

  def runFullIncremental(spark: SparkSession): FullIncResult =
    fullIncCache.computeIfAbsent(spark, { s: SparkSession =>
      val root = Files.createTempDirectory("graft-fullinc")
      def write(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.writeString(p, content, StandardCharsets.UTF_8)
      }
      write(s"repo/level_0/${E2E.L0Dataset}/pab.crs", E2E.pab1())
      write(s"repo/level_0/${E2E.L5Dataset}/pab.crs", E2E.mutateLevel5(E2E.pab1()))
      val (cat, errs) = Catalog.parse(FullIncTablesConf.linesIterator)
      require(errs.isEmpty, s"catalog errors: $errs")
      val control = new Control(s, root.resolve("control").toString,
        () => java.sql.Timestamp.valueOf("2017-06-29 01:00:00"))
      val cfg = Orchestrator.RunConfig(
        repoRoot = root.resolve("repo").toString,
        tablesDir = root.resolve("tables").toString,
        controlDir = root.resolve("control").toString)
      def wmInc(): Option[Boolean] =
        control.lastUpload(cfg.schemaName, E2E.TableName).map(_.incremental)
      val run1 = Orchestrator.applyUpdates(s,
        cfg.copy(before = Some("20170101000000")), cat,
        level0 = true, level5 = false, control, level0AsDiff = true)
      val wm1 = wmInc()
      val sink = new ParquetTableSink(s, cfg.tablesDir, E2E.TableName)
      val rows1 = sink.read().count()
      val run2 = Orchestrator.applyUpdates(s, cfg, cat,
        level0 = true, level5 = false, control, level0AsDiff = true)
      FullIncResult(run1, run2, wm1, wmInc(), rows1, sink.read())
    })

  // ---- E3 replay of the reference slice (full-incremental) --------------

  private val e3Cache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (Loader.LoadStats, DataFrame)]()

  /** The E2E pab1 slice applied as `-full-incremental` (E3): level-0 load,
    * then the mutated snapshot merged via full-outer diff — same final five
    * rows, stats from the differ (I=3, U=2, D=1). */
  def runE3(spark: SparkSession): (Loader.LoadStats, DataFrame) =
    e3Cache.computeIfAbsent(spark, { s: SparkSession =>
      val st = E2E.stageRepository()
      val sink = new ParquetTableSink(s, st.tablesDir, E2E.TableName)
      Loader.level0Replace(s, sink, Seq(st.l0File), E2E.L0Dataset)
      val stats = Loader.level0Incremental(s, sink, Seq(st.l5File),
        E2E.KeyColumn, E2E.L5Dataset,
        tolError = Some(0.20), tolWarning = Some(0.95))
      (stats, sink.read())
    })

  // ---- file-error budget -------------------------------------------------

  /** A level-0 file with 2 malformed rows among 5: within a budget of 2 the
    * bad rows drop and 3 load; a budget of 1 aborts the load. Returns
    * (rows loaded under budget, whether the strict budget aborted). */
  def runErrorBudget(spark: SparkSession): (Long, Boolean) = {
    val root = Files.createTempDirectory("graft-errbudget")
    val file = root.resolve("cor.crs")
    Files.writeString(file, crs("t_cor",
      Seq("id" -> "integer", "v" -> "varchar"),
      Seq("1|a|", "2|b", "3|c|", "4|d|e|", "5|f|")), // rows 2 and 4 malformed
      StandardCharsets.UTF_8)
    val okSink = new ParquetTableSink(spark, root.resolve("t1").toString, "t_cor")
    Loader.level0Replace(spark, okSink, Seq(file.toString), "v1",
      maxFileErrors = Some(2))
    val loaded = okSink.read().count()
    val strictSink = new ParquetTableSink(spark, root.resolve("t2").toString, "t_cor")
    val aborted =
      try {
        Loader.level0Replace(spark, strictSink, Seq(file.toString), "v1",
          maxFileErrors = Some(1))
        false
      } catch { case _: IllegalStateException => true }
    (loaded, aborted)
  }
}
