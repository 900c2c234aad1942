package graft.bde

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The E2E slice (the reference's own, t/linz_bde_uploader.t:1040-1100) as
  * files a test writes itself: the 3-row level-0 table keyed on audit_id,
  * then an increment with 1 delete, 2 updates and 3 inserts, one of them
  * the first row re-keyed under the same lin_id. Rows and changes come from
  * [[E2E]]. Expected stats (I, U, 0, D) = (3, 2, 0, 1). */
object L5Slice {
  val Table = E2E.TableName
  val Key = E2E.KeyColumn
  val L0Version = E2E.L0Dataset
  val L5Version = E2E.L5Dataset
  val l0Rows = E2E.Pab1Rows
  /** The level-5 rows: the reference's edits applied to the level-0 rows. */
  val l5Rows = E2E.mutateLevel5(l0Rows.mkString("", "\n", "\n")).split("\n").toSeq
  val changes = E2E.XaudChanges
  /** audit_id of the final rows, ascending. */
  val finalKeys = Seq(100, 300, 400, 80401148, 80401149)

  private def write(dir: Path, name: String, content: String): String = {
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  def dataFile(dir: Path, name: String, rows: Seq[String]): String =
    write(dir, name, E2E.pab1(rows))

  def changeFile(dir: Path, keys: Seq[(Int, String)], table: String = Table): String =
    write(dir, "xaud.crs", E2E.xaud(keys, table))

  /** Publish the level-0 version into `sink`. */
  def loadLevel0(spark: SparkSession, sink: TableSink, dir: Path): Unit =
    Loader.level0Replace(spark, sink, Seq(dataFile(dir, "l0.crs", l0Rows)),
      L0Version)

  /** The change file as the orchestrator hands it over: driver-local. */
  def localChanges(spark: SparkSession, file: String): DataFrame = {
    val chg = BdeFormat.readFile(spark, file)
    spark.createDataFrame(chg.collect().toSeq.asJava, chg.schema)
  }
}
