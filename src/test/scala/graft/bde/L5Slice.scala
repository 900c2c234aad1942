package graft.bde

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A self-contained level-5 slice in the shape of the reference's own
  * (t/linz_bde_uploader.t:1040-1100): a 3-row level-0 table keyed on
  * audit_id, then an increment with 1 delete, 2 updates and 3 inserts, one
  * of them the first row re-keyed under the same lin_id. Expected stats
  * (I, U, 0, D) = (3, 2, 0, 1). */
object L5Slice {
  val Table = "crs_parcel_bndry"
  val Key = "audit_id"
  val L0Version = "20160601000000"
  val L5Version = "20170629000000"
  private val cols = Seq("pri_id" -> "integer", "sequence" -> "integer",
    "lin_id" -> "integer", "reversed" -> "varchar", "audit_id" -> "integer")
  private val changeCols = Seq("id" -> "integer", "tablename" -> "varchar",
    "tablekeyvalue" -> "integer", "action" -> "char")
  val l0Rows = Seq("4457326|3|11960041|Y|80401150|",
    "4457327|2|29694578|N|80401149|", "4457328|1|29694591|Y|80401148|")
  val l5Rows = Seq("4457326|3|11960041|Y|100|",
    "4457327|20|29694578|N|80401149|", "4457328|10|29694591|Y|80401148|",
    "4457329|4|10000000|Y|300|", "4457330|5|20000000|Y|400|")
  val changes = Seq(100 -> "I", 80401150 -> "D", 80401149 -> "U",
    80401148 -> "U", 300 -> "I", 400 -> "I")
  /** audit_id of the final rows, ascending. */
  val finalKeys = Seq(100, 300, 400, 80401148, 80401149)

  private def write(dir: Path, name: String, content: String): String = {
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  def dataFile(dir: Path, name: String, rows: Seq[String]): String =
    write(dir, name, OrchestratorScenario.crs(Table, cols, rows))

  def changeFile(dir: Path, keys: Seq[(Int, String)], table: String = Table): String =
    write(dir, "xaud.crs", OrchestratorScenario.crs("xaud", changeCols,
      keys.zipWithIndex.map { case ((k, a), i) => s"${i + 1}|$table|$k|$a|" }))

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
