package uploadbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.bde.{Catalog, Control, Orchestrator, ParquetTableSink}

class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val spec = Gen.Spec(
    Seq(Gen.TableSpec("t_big", 2000), Gen.TableSpec("t_small", 300)),
    increments = 2, churn = 0.02)

  /** Load the whole repository; returns (repo, tables dir, control dir,
    * applied level-5 datasets, outcomes, expected fingerprints). */
  private def loaded() = {
    val root = Files.createTempDirectory("uploadbench-check")
    val repo = Gen.generate(root.resolve("gen"), spec, 5)
    val (catalog, errs) = Catalog.parse(Files.readAllLines(repo.tablesConf).asScala.iterator)
    assert(errs.isEmpty)
    val cfg = Orchestrator.RunConfig(repo.repoRoot.toString,
      root.resolve("tables").toString, root.resolve("control").toString,
      maxFileErrors = Some(Gen.MaxFileErrors))
    val outcomes = Orchestrator.applyUpdates(spark, cfg, catalog,
      level0 = true, level5 = true, new Control(spark, cfg.controlDir))
    val expected = repo.finalTables.map { case (t, rs) =>
      t -> Check.fingerprint(Check.modelFrame(spark, rs)) }
    (root, repo, cfg, outcomes, expected)
  }

  test("a correct load passes; a corrupted table, stat or watermark fails") {
    val (root, repo, cfg, outcomes, expected) = loaded()
    try {
      val applied = repo.datasets.map(_.name)
      val l0 = repo.level0.head.name
      def run(exp: Map[String, (Long, BigDecimal)] = expected, r: Gen.Repo = repo,
          ds: Seq[String] = applied) =
        Check.check(spark, cfg.tablesDir, cfg.controlDir, r, ds, exp, l0, outcomes)

      val ok = run()
      assert(ok.failedLoads.isEmpty, ok.messages)

      // one changed value in a published table
      val sink = new ParquetTableSink(spark, cfg.tablesDir, "t_small")
      val victim = sink.read().agg(min("id")).head().getInt(0)
      val bad = sink.read().withColumn("amount",
        when(col("id") === victim, col("amount") + 1).otherwise(col("amount")))
      sink.publish(sink.stage(bad, "corrupt"))
      val corrupted = run()
      assert(corrupted.failedLoads == Set(applied.last -> "t_small"), corrupted.messages)
      assert(corrupted.messages.exists(_.contains("t_small: table")))

      // the model expecting other stats, and a watermark past the last load
      val wrongStats = repo.copy(expected = repo.expected.updated(
        (applied.last, "t_big"), Gen.Counts(0, 0, 0, 0)))
      assert(run(r = wrongStats).failedLoads.contains(applied.last -> "t_big"))
      assert(run(ds = applied.init).messages.exists(_.contains("watermarks")))
    } finally Main.deleteTree(root)
  }
}
