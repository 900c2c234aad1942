package uploadbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.bde.{Control, Orchestrator, ParquetTableSink}

/**
 * Compares the state an upload run left behind with the generator's model:
 * each published table by row count and an order-independent hash, the
 * I/U/0/D stats of each (dataset, table) load, and the watermarks.
 */
object Check {

  /** What a run left behind, in a form two runs can be compared by. */
  final case class Digest(
      tables: Map[String, (Long, BigDecimal)],
      stats: Map[(String, String), Gen.Counts],
      watermarks: Map[String, (Option[String], Option[String])])

  final case class Result(
      digest: Digest,
      /** (dataset, table) loads that failed, aborted or mismatch the model */
      failedLoads: Set[(String, String)],
      messages: Seq[String])

  val Schema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("code", StringType),
    StructField("name", StringType), StructField("amount", IntegerType),
    StructField("created", TimestampType), StructField("note", StringType)))

  /** Row count and the sum of per-row hashes; the hash covers every column
    * and which of them are NULL. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = Schema.fieldNames.toSeq
    val nulls = concat(cols.map(c => when(col(c).isNull, lit("1")).otherwise(lit("0"))): _*)
    val r = df.select(xxhash64((cols.map(col) :+ nulls): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The model's rows as a frame of [[Schema]], for [[fingerprint]]. */
  def modelFrame(spark: SparkSession, rows: Seq[Gen.Clean]): DataFrame = {
    val micros = StructType(Schema.map(f =>
      if (f.name == "created") f.copy(dataType = LongType) else f))
    val data = rows.map(c => Row(c.id, c.code, c.name, c.amount,
      c.created.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + c.created.getNano / 1000,
      c.note))
    spark.createDataFrame(java.util.Arrays.asList(data: _*), micros)
      .withColumn("created", expr("timestamp_micros(created)"))
  }

  /** Read back what the run published and recorded; stats are those of
    * the latest upload job in the control directory. */
  def digest(spark: SparkSession, tablesDir: String, controlDir: String,
      tables: Seq[String]): Digest = {
    val control = new Control(spark, controlDir)
    val names = control.uploadTableRecords.map(t => t.id -> t.tableName).toMap
    val last = control.statRecords.map(_.uplId).maxOption
    val stats = control.statRecords.filter(s => last.contains(s.uplId))
      .map(s => (s.dataset, names.getOrElse(s.tblId, s"#${s.tblId}")) ->
        Gen.Counts(s.ninsert, s.nupdate, s.nnullupdate, s.ndelete)).toMap
    val fps = tables.map { t =>
      val sink = new ParquetTableSink(spark, tablesDir, t)
      t -> (if (sink.exists) fingerprint(sink.read()) else (-1L, BigDecimal(0)))
    }.toMap
    val wm = tables.map { t =>
      val r = control.lastUpload("bde", t)
      t -> (r.flatMap(_.lastUploadDataset), r.flatMap(_.lastLevel0Dataset))
    }.toMap
    Digest(fps, stats, wm)
  }

  /**
   * Check one run against the model.
   *
   * @param applied   the datasets the run was to apply, in order
   * @param expectedTables fingerprint each table must end with
   * @param level0    the level-0 dataset the watermarks must name
   */
  def check(
      spark: SparkSession,
      tablesDir: String,
      controlDir: String,
      repo: Gen.Repo,
      applied: Seq[String],
      expectedTables: Map[String, (Long, BigDecimal)],
      level0: String,
      outcomes: Seq[Orchestrator.TableOutcome]): Result = {
    val d = digest(spark, tablesDir, controlDir, repo.tables)
    val failed = scala.collection.mutable.LinkedHashSet[(String, String)]()
    val msgs = Seq.newBuilder[String]
    def fail(ds: String, t: String, m: String): Unit = { failed += ds -> t; msgs += m }
    val lastDs = applied.last
    outcomes.filter(_.status != "loaded").foreach(o =>
      fail(o.dataset, o.table, s"${o.dataset}/${o.table}: ${o.status} ${o.message}"))
    for (ds <- applied; t <- repo.tables) {
      val want = repo.expected((ds, t))
      d.stats.get((ds, t)) match {
        case None => fail(ds, t, s"$ds/$t: no stats recorded")
        case Some(got) if got != want => fail(ds, t, s"$ds/$t: stats $got, model $want")
        case _ =>
      }
      if (!outcomes.exists(o => o.dataset == ds && o.table == t))
        fail(ds, t, s"$ds/$t: no outcome")
    }
    for (t <- repo.tables) {
      val got = d.tables(t)
      val want = expectedTables(t)
      if (got != want) fail(lastDs, t, s"$t: table (rows, hash) $got, model $want")
      val wm = d.watermarks(t)
      if (wm != (Some(lastDs), Some(level0)))
        fail(lastDs, t, s"$t: watermarks $wm, expected ($lastDs, $level0)")
    }
    Result(d, failed.toSet, msgs.result())
  }
}
