package graft.bde

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Flag-compatible driver (`bin/linz_bde_uploader.pl:78-148`): the same
 * option surface, including the reference's implication rules (`-j` implies
 * `-f`; `-r` implies `-f -i`; `-j` with `-r` is rejected) and the layered
 * configuration stack (base → `-x` extension → `.test` overlay, see
 * [[Config]]). Command-line flags override configuration values.
 *
 * Usage:
 * {{{
 * graft.bde.Cli -full -config-path conf/graft.cfg [-x ext] \
 *   [-repository /data/bde -tables-dir /data/tables -control-dir /data/ctl] \
 *   [tables...]
 * }}}
 */
object Cli {

  /** Reported by `-version` (bin/linz_bde_uploader.pl:106-110). */
  val Version = "1.0.0"

  /** The reference's log levels, severest first
    * (bin/linz_bde_uploader.pl:38-49); `-log-level` must name one. */
  val LogLevels: Seq[String] =
    Seq("OFF", "FATAL", "ERROR", "WARN", "INFO", "DEBUG", "TRACE", "ALL")

  /**
   * `-listing_file` / `-verbose` / `-log-level` sink
   * (bin/linz_bde_uploader.pl:200-235): messages at or above the threshold
   * append to the listing file when one is named, and echo to stdout when
   * `-v` is set — the reference's file appender + verbose_screen_log pair.
   */
  final class RunLog(
      verbose: Boolean,
      listingFile: Option[String],
      level: String = "INFO") {
    private val rank = LogLevels.indexOf(level)
    private val out = listingFile.map(p =>
      new java.io.PrintWriter(new java.io.FileWriter(p, true)))
    def log(msgLevel: String, msg: String): Unit =
      if (LogLevels.indexOf(msgLevel) <= rank) {
        val line = s"$msgLevel - $msg"
        out.foreach { w => w.println(line); w.flush() }
        if (verbose) println(line)
      }
    def info(msg: String): Unit = log("INFO", msg)
    def debug(msg: String): Unit = log("DEBUG", msg)
    def close(): Unit = out.foreach(_.close())
  }

  /** `-h|-help` output — the Syntax section of the reference's POD
    * (bin/linz_bde_uploader.pl:328-386), which is what `help(1, ...)`
    * prints there. */
  val UsageText: String =
    """Syntax:
      |  graft.bde.Cli [options..] [tables..]
      |
      |If no options are given a brief help message is displayed. At least
      |one of the -full, -incremental, -rebuild, -purge, -remove-zombie
      |options must be supplied. If tables are included, then only those
      |tables will be updated.
      |
      |Options:
      |  -config-path or -c <cfgpath>      configuration file to use
      |  -config-extension or -x <cfgext>  extra configuration extension
      |  -purge or -p                      purge old jobs (negatable: -no-purge)
      |  -remove-zombie or -z              clean up dead jobs (negatable)
      |  -full or -f                       apply level-0 loads (negatable)
      |  -full-incremental or -j           level 0 as table-diff (negatable)
      |  -incremental or -i                apply level-5 loads (negatable)
      |  -rebuild or -r                    implies -full -incremental (negatable)
      |  -full-if-needed                   level 0 only when required
      |  -before or -b yyyymmdd[hhmmss]    only datasets before this time
      |  -maintain-database or -m          vacuum/analyze after run
      |  -dry-run or -d                    plan, do not apply (negatable)
      |  -full-timeout or -t <hours>       level-0 time budget
      |  -inc-timeout or -u <hours>        level-5 time budget
      |  -override-locks or -o             steal existing locks
      |  -skip-postupload-tasks            skip post-load hooks (negatable)
      |  -listing_file or -l <file>        append run log to file
      |  -keep-files or -k                 keep temp files after run
      |  -version                          print version and exit
      |  -verbose or -v                    log to stdout
      |  -log-level <LEVEL>                ERROR WARN INFO DEBUG ALL
      |  -enable-hooks or -e               run configured event hooks (negatable)
      |  -help or -h                       this message
      |""".stripMargin

  final case class Options(
      showHelp: Boolean = false,        // -h | -help
      full: Boolean = false,            // -f | -full
      incremental: Boolean = false,     // -i | -incremental
      rebuild: Boolean = false,         // -r | -rebuild (implies -f -i)
      fullIncremental: Boolean = false, // -j | -full-incremental (implies -f)
      fullIfNeeded: Boolean = false,    // -full-if-needed (implies -f; repo extension)
      dryRun: Boolean = false,          // -d | -dry-run
      before: Option[String] = None,    // -b | -before date
      purge: Boolean = false,           // -p | -purge
      removeZombie: Boolean = false,    // -z | -remove-zombie
      overrideLocks: Boolean = false,   // -o | -override-locks
      maintain: Boolean = false,        // -m | -maintain-database
      enableHooks: Boolean = false,     // -e | -enable-hooks
      skipPostUpload: Boolean = false,  // -skip-postupload-tasks
      fullTimeout: Option[Double] = None,  // -t | -full-timeout hours
      incTimeout: Option[Double] = None,   // -u | -inc-timeout hours
      keepFiles: Boolean = false,       // -k | -keep-files
      listingFile: Option[String] = None,  // -l | -listing_file path
      verbose: Boolean = false,         // -v | -verbose
      logLevel: Option[String] = None,  // -log-level LEVEL
      printVersion: Boolean = false,    // -version
      configPath: Option[String] = None,
      configExtension: Option[String] = None, // -x | -config-extension
      repository: Option[String] = None,
      tablesDir: Option[String] = None,
      controlDir: Option[String] = None,
      selectTables: Seq[String] = Nil)

  def parseArgs(args: Seq[String]): Either[String, Options] = {
    def loop(rest: List[String], o: Options): Either[String, Options] = rest match {
      case Nil => Right(o)
      case ("-h" | "-help") :: t => loop(t, o.copy(showHelp = true))
      case ("-f" | "-full") :: t => loop(t, o.copy(full = true))
      // negatable `!` forms, as Getopt::Long declares them ("full|f!" →
      // --no-full/--nofull): later options override earlier ones
      case ("-no-full" | "-nofull") :: t => loop(t, o.copy(full = false))
      case ("-i" | "-incremental") :: t => loop(t, o.copy(incremental = true))
      case ("-no-incremental" | "-noincremental") :: t =>
        loop(t, o.copy(incremental = false))
      case ("-r" | "-rebuild") :: t => loop(t, o.copy(rebuild = true))
      case ("-no-rebuild" | "-norebuild") :: t => loop(t, o.copy(rebuild = false))
      case ("-j" | "-full-incremental") :: t => loop(t, o.copy(fullIncremental = true))
      case ("-no-full-incremental" | "-nofull-incremental") :: t =>
        loop(t, o.copy(fullIncremental = false))
      case "-full-if-needed" :: t => loop(t, o.copy(fullIfNeeded = true))
      case ("-d" | "-dry-run") :: t => loop(t, o.copy(dryRun = true))
      case ("-no-dry-run" | "-nodry-run") :: t => loop(t, o.copy(dryRun = false))
      case ("-p" | "-purge") :: t => loop(t, o.copy(purge = true))
      case ("-no-purge" | "-nopurge") :: t => loop(t, o.copy(purge = false))
      case ("-z" | "-remove-zombie") :: t => loop(t, o.copy(removeZombie = true))
      case ("-no-remove-zombie" | "-noremove-zombie") :: t =>
        loop(t, o.copy(removeZombie = false))
      case ("-o" | "-override-locks") :: t => loop(t, o.copy(overrideLocks = true))
      case ("-m" | "-maintain-database") :: t => loop(t, o.copy(maintain = true))
      case ("-e" | "-enable-hooks") :: t => loop(t, o.copy(enableHooks = true))
      case ("-no-enable-hooks" | "-noenable-hooks") :: t =>
        loop(t, o.copy(enableHooks = false))
      case "-skip-postupload-tasks" :: t => loop(t, o.copy(skipPostUpload = true))
      case ("-no-skip-postupload-tasks" | "-noskip-postupload-tasks") :: t =>
        loop(t, o.copy(skipPostUpload = false))
      case ("-t" | "-full-timeout") :: v :: t =>
        loop(t, o.copy(fullTimeout = Some(v.toDouble)))
      case ("-u" | "-inc-timeout") :: v :: t =>
        loop(t, o.copy(incTimeout = Some(v.toDouble)))
      case ("-k" | "-keep-files") :: t => loop(t, o.copy(keepFiles = true))
      case ("-l" | "-listing_file") :: v :: t =>
        loop(t, o.copy(listingFile = Some(v)))
      case ("-v" | "-verbose") :: t => loop(t, o.copy(verbose = true))
      case "-log-level" :: v :: t => loop(t, o.copy(logLevel = Some(v)))
      case "-version" :: t => loop(t, o.copy(printVersion = true))
      case ("-b" | "-before") :: v :: t => loop(t, o.copy(before = Some(v)))
      case ("-c" | "-config-path") :: v :: t => loop(t, o.copy(configPath = Some(v)))
      case ("-x" | "-config-extension") :: v :: t =>
        loop(t, o.copy(configExtension = Some(v)))
      case "-repository" :: v :: t => loop(t, o.copy(repository = Some(v)))
      case "-tables-dir" :: v :: t => loop(t, o.copy(tablesDir = Some(v)))
      case "-control-dir" :: v :: t => loop(t, o.copy(controlDir = Some(v)))
      case f :: _ if f.startsWith("-") => Left(s"unknown option $f")
      case tbl :: t => loop(t, o.copy(selectTables = o.selectTables :+ tbl))
    }
    loop(args.toList, Options()).flatMap { o0 =>
      // -before normalization + validation (bin/linz_bde_uploader.pl:
      // 138-143): an 8-digit date extends to midnight (append '000000');
      // anything not then exactly 14 digits is rejected — the
      // lexicographic dataset filter would otherwise silently accept
      // garbage and compare it against YYYYMMDDhhmmss ids
      val before = o0.before.map { v =>
        if (v.matches("^\\d{8}$")) v + "000000" else v
      }
      // implication rules (bin/linz_bde_uploader.pl:118-148): `-j` implies
      // `-f`, and `-j` with `-r` is contradictory (linz issue #116)
      if (o0.logLevel.exists(l => !LogLevels.contains(l)))
        Left(s"Log level must be one of ${LogLevels.mkString(", ")}")
      else if (before.exists(v => !v.matches("^\\d{14}$")))
        Left(s"Invalid value ${o0.before.get} for -before - must be " +
          "yyyymmdd or yyyymmddhhmmss")
      else if (o0.fullIncremental && o0.rebuild)
        Left("-full-incremental and -rebuild are contradictory, use one or the other")
      else if (o0.fullIfNeeded && o0.rebuild)
        Left("Cannot use -full-if-needed with -rebuild")
      else Right(o0.copy(
        before = before,
        full = o0.full || o0.fullIncremental || o0.fullIfNeeded || o0.rebuild,
        incremental = o0.incremental || o0.rebuild))
    }
  }

  /** The post-getopt "at least one action" rule (bin/linz_bde_uploader.pl:
    * 131-136): `-m` and the diagnostics flags alone are not a run. Called
    * by [[main]] after help/version short-circuit, exposed for specs. */
  def requireAction(o: Options): Either[String, Options] =
    if (o.full || o.incremental || o.purge || o.removeZombie || o.rebuild)
      Right(o)
    else Left("Need at least one option of -full, -incremental, " +
      "-full-incremental, -purge, or -remove-zombie")

  /** Resolve the layered configuration for the given `-config-path`: a FILE
    * loads base → `-x` extension → `.test` overlay; a DIRECTORY (the
    * pre-config compatibility mode) contributes only its `tables.conf`
    * location; absent → all defaults. */
  def loadConfig(o: Options): Config = o.configPath match {
    case Some(p) if Files.isDirectory(Paths.get(p)) => new Config(Map.empty, p)
    case Some(p) => Config.load(p, o.configExtension)
    case None => new Config(Map.empty, ".")
  }

  /** tables.conf location: `bde_tables_config` (conf:114, typically
    * `{_configdir}/tables.conf`) or tables.conf next to the config. A run
    * without -config-path fails fast — silently reading ./tables.conf from
    * whatever the working directory happens to be would load the wrong
    * catalog. */
  def tablesConfPath(o: Options, conf: Config): String =
    conf.get("bde_tables_config").filter(_.nonEmpty).getOrElse {
      val p = o.configPath.getOrElse(sys.error("missing -config-path"))
      val dir =
        if (Files.isDirectory(Paths.get(p))) p
        else Option(Paths.get(p).toAbsolutePath.getParent)
          .map(_.toString).getOrElse(".")
      s"$dir/tables.conf"
    }

  /** Fold options + config into the orchestrator run config (flags win). */
  def buildRunConfig(o: Options, conf: Config): Orchestrator.RunConfig = {
    val hooksEnabled = o.enableHooks || conf.boolean("enable_hooks", false)
    val eventHooks: Map[String, Seq[String]] =
      if (!hooksEnabled) Map.empty
      else Hooks.EventNames
        .map(ev => ev -> conf.list(s"${ev}_event_hooks"))
        .filter(_._2.nonEmpty).toMap
    Orchestrator.RunConfig(
      repoRoot = o.repository
        .orElse(conf.get("bde_repository").filter(_.nonEmpty))
        .getOrElse(sys.error("missing -repository (or bde_repository)")),
      tablesDir = o.tablesDir
        .orElse(conf.get("tables_dir").filter(_.nonEmpty))
        .getOrElse(sys.error("missing -tables-dir (or tables_dir)")),
      controlDir = o.controlDir
        .orElse(conf.get("control_dir").filter(_.nonEmpty))
        .getOrElse(sys.error("missing -control-dir (or control_dir)")),
      schemaName = conf.getOrElse("bde_schema", "bde"),
      before = o.before,
      dryRun = o.dryRun,
      maxLevel0RuntimeHours = o.fullTimeout
        .getOrElse(conf.double("max_level0_runtime_hours", 0)),
      maxLevel5RuntimeHours = o.incTimeout
        .getOrElse(conf.double("max_level5_runtime_hours", 0)),
      maxFileErrors =
        Some(conf.long("max_file_errors", 0)).filter(_ > 0),
      overrideLocks = o.overrideLocks || conf.boolean("override_locks", false),
      allowConcurrent = conf.boolean("allow_concurrent_uploads", false),
      continuityWarnHours =
        conf.double("level5_starttime_warn_tolerance", 0.5),
      continuityFailHours =
        conf.double("level5_starttime_fail_tolerance", 0),
      eventHooks = eventHooks,
      parallelTables = conf.long("parallel_tables", 1).toInt,
      skipPostUploadTasks =
        o.skipPostUpload || conf.boolean("skip_postupload_tasks", false),
      keepFiles = o.keepFiles || conf.boolean("keep_files", false))
  }

  def main(args: Array[String]): Unit = {
    parseArgs(args.toIndexedSeq) match {
      case Left(err) =>
        System.err.println(s"error: $err"); sys.exit(1)
      case Right(o) if o.showHelp =>
        println(UsageText)
      case Right(o) if o.printVersion =>
        println(Version)
      case Right(o) if requireAction(o).isLeft =>
        System.err.println(requireAction(o).swap.getOrElse(""))
        System.err.println(UsageText)
        sys.exit(1)
      case Right(o) =>
        val spark = SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
          .appName("graft-bde-uploader")
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
          .config("spark.sql.session.timeZone", "UTC")
          // local file creates without a forked `chmod` each (part files,
          // `.crc` sidecars, committer directories) — see
          // graft.fs.NoChmodLocalFileSystem; other schemes are unaffected
          .config("spark.hadoop.fs.file.impl", "graft.fs.NoChmodLocalFileSystem")
          .getOrCreate()
        val log = new RunLog(o.verbose, o.listingFile,
          o.logLevel.getOrElse("INFO"))
        try {
          val conf = loadConfig(o)
          log.debug(s"options: $o")
          val runCfg = if (o.full || o.incremental) Some(buildRunConfig(o, conf))
            else None
          val controlDir = runCfg.map(_.controlDir)
            .orElse(o.controlDir)
            .orElse(conf.get("control_dir").filter(_.nonEmpty))
            .getOrElse(sys.error("missing -control-dir"))
          val control = new Control(spark, controlDir)
          if (o.purge) {
            // PurgeOldJobs (lib/LINZ/BdeUpload.pm:520-532): expire locks by
            // lock_expiry_hours, drop job rows past job_record_expiry_days
            val lockExpiry = conf.double("lock_expiry_hours", 0)
            if (lockExpiry > 0) control.releaseExpiredLocks(lockExpiry)
            val purged =
              control.removeOldJobData(conf.long("job_record_expiry_days", 7).toInt)
            log.info(s"purged $purged expired job records")
            println(s"purged: $purged")
          }
          if (o.removeZombie) {
            val released = control.releaseExpiredLocks(
              conf.double("lock_expiry_hours", 1.0))
            log.info(s"released $released zombie locks")
            println(s"zombies: $released")
          }
          runCfg.foreach { rc =>
            val (cat0, errs) = Catalog.parse(
              scala.io.Source.fromFile(tablesConfPath(o, conf)).getLines())
            require(errs.isEmpty, s"config errors: $errs")
            val include =
              if (o.selectTables.nonEmpty) o.selectTables
              else conf.list("include_tables")
            val cat = Catalog.select(cat0, include = include,
              exclude = conf.list("exclude_tables"))
            // `-full-if-needed` (repo extension) plans level-0 only where a
            // table's watermark is missing; plain `-f`/`-j`/`-r` force it
            // (implications already folded above)
            val forceL0 = (o.full || o.rebuild) && !(o.fullIfNeeded && !(o.rebuild || o.fullIncremental))
            val outcomes = Orchestrator.applyUpdates(spark, rc,
              cat, level0 = forceL0, level5 = o.incremental, control,
              level0IfNeeded = o.fullIfNeeded,
              rebuild = o.rebuild || conf.boolean("rebuild", false),
              level0AsDiff = o.fullIncremental)
            outcomes.foreach { r =>
              val line =
                f"${r.dataset} L${r.level} ${r.table}%-30s ${r.status}%-8s " +
                  f"I=${r.ninsert} U=${r.nupdate} 0=${r.nnullupdate} D=${r.ndelete} ${r.message}"
              log.info(line)
              println(line)
            }
            // `-m`: storage maintenance after the run — the parquet
            // analogue of VACUUM ANALYSE (BdeDatabase.pm:400-405): prune
            // superseded version directories of every selected table
            if (o.maintain) {
              val pruned = cat.filterNot(_.levels == Set("C")).flatMap { t =>
                new ParquetTableSink(spark, rc.tablesDir, t.name)
                  .pruneVersions().map(v => s"${t.name}/$v")
              }
              val line = s"maintain: pruned ${pruned.size} superseded versions" +
                (if (pruned.nonEmpty) pruned.mkString(" (", ", ", ")") else "")
              log.info(line)
              println(line)
            }
          }
        } finally { log.close(); spark.stop() }
    }
  }
}
