package uploadbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.bde.{Catalog, Control, Orchestrator}

/**
 * The uploader benchmark: generates a BDE repository from the seed, drives
 * it through `Orchestrator.applyUpdates` (the call the CLI makes) for the
 * named workload, checks every run against the generator's model, and
 * prints the metrics as one JSON line.
 *
 * {{{
 * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--spans <file>]
 * }}}
 *
 * Each timed run starts from the same state (empty tables, or a copy of the
 * base the setup loaded), so runs of one invocation are repeats of one
 * another. Runs continue until their summed wall time reaches `--seconds`.
 * With `--trace 1` one more untimed run follows the set-up, then every
 * second run has the agent's spans switched on; the per-layer figures come
 * from the traced runs, and the overhead is their `run_s` minus that of
 * the others. The traced runs' spans are
 * written to the `--spans` file as JSON lines.
 */
object Main {

  private val Big = Seq(Gen.TableSpec("crs_parcel", 60000),
    Gen.TableSpec("crs_title", 10000), Gen.TableSpec("crs_survey", 6000),
    Gen.TableSpec("crs_mark", 3000))
  private val Many = Seq(Gen.TableSpec("crs_parcel", 30000),
    Gen.TableSpec("crs_title", 6000), Gen.TableSpec("crs_survey", 1000))

  /** Workload name -> repository shape. Why each exists is in
    * BENCHMARK.json. */
  val Workloads: Map[String, Gen.Spec] = Map(
    "l0_full_load" -> Gen.Spec(Big),
    "l5_daily_chain" -> Gen.Spec(Many, increments = 2, churn = 0.005),
    "l0_diff_reload" -> Gen.Spec(Big, secondSnapshot = true, snapshotChurn = 0.03))

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, spans: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.keys.toSeq.sorted.mkString(", ")})")
    Opts(w, need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
      m.get("--spans").map(Paths.get(_).toAbsolutePath))
  }

  /** One timed upload run. */
  final case class RunResult(
      wallS: Double, datasetS: Seq[Double], meter: Meter.Delta, heapPeak: Long,
      bytesAdded: Long, inputBytes: Long, rows: Long,
      outcomes: Seq[Orchestrator.TableOutcome], check: Check.Result,
      layers: Option[Trace.RunLayers])

  def main(args: Array[String]): Unit = {
    val o = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2)
    }
    val ok = try new Bench(o).run() finally deleteTree(o.work)
    sys.exit(if (ok) 0 else 1)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it; with fewer
    * than 21 samples that rank is at or below the median, so the median is
    * reported. Returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0)
    else if (n - 11 <= (n - 1) / 2) (median(s), 50.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

final class Bench(o: Main.Opts) {
  import Main._

  private val spec = Workloads(o.workload)
  private val isLevel5 = o.workload == "l5_daily_chain"
  private val isDiff = o.workload == "l0_diff_reload"
  /** level 5 and the level-0 diff start from a published level-0 base */
  private val fromBase = isLevel5 || isDiff
  private val cores = math.min(4, Runtime.getRuntime.availableProcessors())
  private var spark: SparkSession = _
  private var trace: Option[Trace] = None
  @volatile private var currentTables = ""

  private def log(s: String): Unit = println(s)

  private def time[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e9)
  }

  def run(): Boolean = {
    Files.createDirectories(o.work)
    val (_, sessionS) = time {
      val builder = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"uploadbench-${o.workload}")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", o.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      if (o.trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      spark = builder.getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    try bench(sessionS) finally spark.stop()
  }

  private def bench(sessionS: Double): Boolean = {
    // ---- setup: generation (repeated, median), base load, warm-up run ------
    val gens = (1 to 3).map(i => time(Gen.generate(o.work.resolve(s"gen$i"), spec, o.seed)))
    val repo = gens.last._1
    gens.init.foreach(g => deleteTree(g._1.root))
    val genS = median(gens.map(_._2))
    val (catalog, errs) = Catalog.parse(
      Files.readAllLines(repo.tablesConf).asScala.iterator)
    require(errs.isEmpty, s"tables.conf errors: $errs")
    val base = repo.level0.head
    val (applied, level0, expectedRows) =
      if (isLevel5) (repo.level5.map(_.name), base.name, repo.finalTables)
      else if (isDiff) (Seq(repo.level0.last.name), repo.level0.last.name, repo.finalTables)
      else (Seq(base.name), base.name, repo.baseTables)
    val appliedSets = repo.datasets.filter(d => applied.contains(d.name))
    val inputBytes = appliedSets.map(repo.bytes).sum
    val rows = appliedSets.map(repo.dataRows).sum

    // the base every run copies. The diff workload loads it through the
    // diff path (all inserts), which is that workload's warm-up.
    val baseDir = o.work.resolve("base")
    val baseS = if (!fromBase) 0.0 else
      time(loaded(upload(catalog,
        config(repo, baseDir, before = repo.level0.lift(1).map(_.name)),
        level5 = false)))._2
    // warm-up of the other two: one untimed load through the workload's own
    // code path, so that no timed run (traced or not) pays for first-use
    // class loading and compilation. The full load runs once; to bound
    // set-up time the level-5 chain applies its first increment to its
    // smallest table only.
    val warmS = if (isDiff) 0.0 else time {
      val smallest = spec.tables.minBy(_.rows).name
      if (isLevel5) untimedRun(repo,
        catalog.filter(t => t.name == smallest || t.name == Gen.ChangeTable),
        before = repo.level5.lift(1).map(_.name))
      else untimedRun(repo, catalog)
    }._2
    // the fingerprints every run must end with
    val (expected, modelS) = time(expectedRows.map { case (t, rs) =>
      t -> Check.fingerprint(Check.modelFrame(spark, rs)) })
    val setupS = sessionS + genS + modelS + baseS + warmS
    log(f"setup: session $sessionS%.3f s, generate $genS%.3f s (median of 3), " +
      f"base load $baseS%.3f s, warm-up $warmS%.3f s, model fingerprints $modelS%.3f s")
    log(s"repository: ${repo.tables.size} tables, ${appliedSets.size} dataset(s) per run, " +
      s"$rows data rows, $inputBytes bytes of .crs input")

    // ---- timed runs ----------------------------------------------------------
    // With tracing, one more untimed run of the whole workload comes first,
    // then untraced and traced runs alternate, starting and ending with an
    // untraced one (at least three runs). The untraced runs bracket the
    // traced ones, so that compilation still going on during the window
    // does not pass for tracing cost.
    if (o.trace) {
      val s = time(untimedRun(repo, catalog))._2
      log(f"trace warm-up: one untimed run, $s%.3f s")
      val t = new Trace(spark.sparkContext, () => currentTables)
      spark.sparkContext.addSparkListener(t.listener)
      Probe.hook = t
      trace = Some(t)
    }
    val window = mutable.ArrayBuffer[RunResult]()
    while (window.isEmpty || (o.trace && (window.size < 3 || window.size % 2 == 0)) ||
        window.map(_.wallS).sum < o.seconds) {
      val n = window.size + 1
      window += timedRun(repo, catalog, applied, level0, expected, inputBytes, rows, n,
        traced = o.trace && n % 2 == 0)
    }
    val runs = window.toSeq
    val (traced, plain) = runs.partition(_.layers.isDefined)
    log("run  wall_s  cpu_s  gc_s  jit_s  steal_s  heap_mb  traced")
    runs.zipWithIndex.foreach { case (r, i) =>
      log(f"${i + 1}%3d ${r.wallS}%7.3f ${r.meter.cpuS}%6.2f ${r.meter.gcS}%5.2f " +
        f"${r.meter.jitS}%6.2f ${r.meter.stealS}%7.2f ${r.heapPeak / 1048576.0}%8.1f  ${r.layers.isDefined}")
    }

    // ---- correctness -------------------------------------------------------
    val attempted = runs.size * applied.size * repo.tables.size
    val failed = runs.map(_.check.failedLoads.size).sum
    runs.flatMap(_.check.messages).distinct.take(20).foreach(m => log(s"MISMATCH $m"))
    val sameState = runs.forall(_.check.digest == runs.head.check.digest)
    if (!sameState) log("MISMATCH runs (traced or untraced) left different final states")
    val correct = failed == 0 && sameState

    // ---- metrics -----------------------------------------------------------
    val e2e = Seq.newBuilder[(String, Double, String)]
    val (tailV, tailP) = tail(plain.flatMap(_.datasetS))
    e2e += (("run_s", median(plain.map(_.wallS)), "s"))
    e2e += (("rows_per_s", median(plain.map(r => r.rows / r.wallS)), "1/s"))
    e2e += (("dataset_p50_s", median(plain.flatMap(_.datasetS)), "s"))
    e2e += (("dataset_tail_s", tailV, "s"))
    e2e += (("cpu_s", median(plain.map(_.meter.cpuS)), "s"))
    e2e += (("peak_heap_mb", median(plain.map(_.heapPeak / 1048576.0)), "MB"))
    e2e += (("bytes_written_per_input_byte",
      median(plain.map(r => r.bytesAdded.toDouble / r.inputBytes)), "ratio"))
    e2e += (("setup_s", setupS, "s"))
    val failedShare = failed.toDouble / attempted
    log(f"failed_share $failedShare%.6f ($failed of $attempted table loads)")
    log(f"dataset_tail_s is p$tailP%.1f of ${plain.flatMap(_.datasetS).size} dataset samples " +
      s"over ${plain.size} runs")
    e2e.result().foreach { case (n, v, u) => log(f"$n%-30s $v%14.6f $u") }

    val metrics =
      if (!o.trace) e2e.result()
      else layerMetrics(traced.flatMap(_.layers), traced, plain)
    if (o.trace) metrics.foreach { case (n, v, u) => log(f"$n%-30s $v%16.6f $u") }
    for (t <- trace; p <- o.spans) t.writeSpans(p)
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    log(f"elapsed ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s since JVM start")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
    correct
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def layerMetrics(ls: Seq[Trace.RunLayers], traced: Seq[RunResult],
      plain: Seq[RunResult]): Seq[(String, Double, String)] = {
    def med(f: Trace.RunLayers => Double) = median(ls.map(f))
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val loads = ls.flatMap(_.tableLoads)
    val (loadTail, _) = tail(loads)
    def actions(f: Orchestrator.TableOutcome => Long) =
      median(traced.map(_.outcomes.map(f).sum.toDouble))
    Seq(
      ("Repo.plan_s", med(_.repoPlanS), "s"),
      ("Repo.files_listed", med(_.filesListed.toDouble), "count"),
      ("BdeFormat.header_s", med(_.headerS), "s"),
      ("BdeFormat.input_bytes_read", med(_.crsBytesRead.toDouble), "bytes"),
      ("BdeFormat.input_scan_ratio",
        median(traced.map(r => ratio(r.layers.get.crsBytesRead, r.inputBytes))), "ratio"),
      ("Diff.shuffle_write_bytes", med(_.shuffleWriteBytes.toDouble), "bytes"),
      ("Diff.actions", actions(o => o.ninsert + o.nupdate + o.nnullupdate + o.ndelete), "count"),
      ("Diff.actions_I", actions(_.ninsert), "count"),
      ("Diff.actions_U", actions(_.nupdate), "count"),
      ("Diff.actions_0", actions(_.nnullupdate), "count"),
      ("Diff.actions_D", actions(_.ndelete), "count"),
      ("Loader.table_load_p50_s", median(loads), "s"),
      ("Loader.table_load_tail_s", loadTail, "s"),
      ("Loader.spark_jobs", med(l => ratio(l.loadJobs, l.tableLoads.size)), "jobs/load"),
      ("Loader.task_cpu_s", med(_.loadTaskCpuS), "s"),
      ("Loader.table_scan_ratio",
        med(l => ratio(l.publishedBytesRead, l.publishedBytesAtLoad)), "ratio"),
      ("Loader.spill_bytes", med(_.spillBytes.toDouble), "bytes"),
      ("Sink.stage_s", med(_.stageS), "s"),
      ("Sink.bytes_written", med(_.sinkBytesWritten.toDouble), "bytes"),
      ("Sink.publish_s", med(_.publishS), "s"),
      ("Sink.read_staged_s", med(_.readStagedS), "s"),
      ("Control.write_s", med(_.controlWriteS), "s"),
      ("Control.mutations", med(_.controlMutations.toDouble), "count"),
      ("Control.bytes_written", med(_.controlBytes.toDouble), "bytes"),
      ("Orchestrator.self_s", med(_.orchestratorSelfS), "s"),
      ("Orchestrator.driver_only_s", med(_.driverOnlyS), "s"),
      ("jvm.gc_s", median(traced.map(_.meter.gcS)), "s"),
      ("jvm.jit_s", median(traced.map(_.meter.jitS)), "s"),
      ("host.steal_s", median(traced.map(_.meter.stealS)), "s"),
      ("trace.overhead_s", median(traced.map(_.wallS)) - median(plain.map(_.wallS)), "s"),
      ("trace.spans", med(_.spans.toDouble), "count"))
  }

  /** How every load of this benchmark runs, into `dir`'s tables and control
    * directories. */
  private def config(repo: Gen.Repo, dir: Path, before: Option[String] = None) =
    Orchestrator.RunConfig(
      repoRoot = repo.repoRoot.toString,
      tablesDir = dir.resolve("tables").toString,
      controlDir = dir.resolve("control").toString,
      before = before,
      maxFileErrors = Some(Gen.MaxFileErrors),
      parallelTables = 1)

  /** One `applyUpdates` call, as the workload makes it unless told otherwise. */
  private def upload(catalog: Seq[Catalog.TableDef], cfg: Orchestrator.RunConfig,
      level5: Boolean = isLevel5,
      control: Option[Control] = None): Seq[Orchestrator.TableOutcome] =
    Orchestrator.applyUpdates(spark, cfg, catalog, level0 = !level5, level5 = level5,
      control.getOrElse(new Control(spark, cfg.controlDir)), level0AsDiff = isDiff)

  /** One untimed run of the workload (from a copy of the base where it has
    * one) with `catalog`'s tables, up to `before`. */
  private def untimedRun(repo: Gen.Repo, catalog: Seq[Catalog.TableDef],
      before: Option[String] = None): Unit = {
    val dir = o.work.resolve("warm")
    if (fromBase) copyTree(o.work.resolve("base"), dir)
    loaded(upload(catalog, config(repo, dir, before)))
    deleteTree(dir)
  }

  /** Set-up loads must succeed; their results are checked by the runs. */
  private def loaded(outs: Seq[Orchestrator.TableOutcome]): Unit = {
    val bad = outs.filter(_.status != "loaded")
    require(outs.nonEmpty && bad.isEmpty, s"set-up load failed: ${bad.mkString("; ")}")
  }

  private def timedRun(repo: Gen.Repo, catalog: Seq[Catalog.TableDef],
      applied: Seq[String], level0: String,
      expected: Map[String, (Long, BigDecimal)], inputBytes: Long, rows: Long,
      n: Int, traced: Boolean = false): RunResult = {
    val dir = o.work.resolve(s"run$n")
    if (fromBase) copyTree(o.work.resolve("base"), dir)
    val tablesDir = dir.resolve("tables")
    val controlDir = dir.resolve("control")
    currentTables = tablesDir.toString
    val starts = mutable.Map[String, Long]()
    val datasetS = mutable.ArrayBuffer[Double]()
    val cfg = config(repo, dir).copy(
      onDatasetStart = (ds, _) => starts(ds) = System.nanoTime(),
      onDatasetEnd = (ds, _) => datasetS += (System.nanoTime() - starts(ds)) / 1e9)
    val control = new Control(spark, cfg.controlDir)
    val before = Meter.listing(tablesDir) ++ Meter.listing(controlDir)
    trace.foreach(_.reset())
    Probe.runId = n
    Meter.resetHeapPeak()
    val m0 = Meter.sample()
    Probe.enabled = traced
    val t0 = System.nanoTime()
    val outcomes = upload(catalog, cfg, control = Some(control))
    val t1 = System.nanoTime()
    Probe.enabled = false
    val m1 = Meter.sample()
    val layers = if (!traced) None else trace.map { t =>
      org.apache.spark.UploadbenchBridge.drainListeners(spark.sparkContext)
      t.summarize(t0, t1)
    }
    val heap = Meter.heapPeak()
    val added = Meter.bytesAdded(before, Meter.listing(tablesDir) ++ Meter.listing(controlDir))
    val check = Check.check(spark, tablesDir.toString, controlDir.toString, repo,
      applied, expected, level0, outcomes)
    deleteTree(dir)
    RunResult((t1 - t0) / 1e9, datasetS.toSeq, Meter.delta(m0, m1), heap, added,
      inputBytes, rows, outcomes, check, layers)
  }
}
