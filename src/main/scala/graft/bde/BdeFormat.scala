package graft.bde

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * BDE (Bulk Data Extract) file format support.
 *
 * A `.crs` file is a small text header followed by a `{CRS-DATA}` sentinel and
 * pipe-delimited rows with a trailing delimiter; the empty field encodes NULL.
 * Header grammar (reference exemplar: /root/reference/t/data/pab1.crs:1-19):
 *
 * {{{
 * HEDR     2.0.0
 * SOFTWARE cbe_b30 V1.0.1
 * SCHEMA   V1.0
 * USER     crs_bde
 * START    2016-06-01 17:12:25
 * END      2016-06-01 17:12:25
 * SQL      SELECT * FROM crs_parcel_bndry
 * TABLE    crs_parcel_bndry
 * COLUMN   pri_id  integer NULL        -- repeated, defines the file schema
 * DESC
 * SIZE     562
 * {CRS-DATA}
 * 4457328|1|29694591|Y|80401148|
 * }}}
 *
 * Design for scale: the header is tiny and read once on the driver (a bounded
 * read of the first few KB of ONE file); the data region is read by Spark's
 * distributed CSV source with an explicit schema, so parsing, projection
 * pushdown and partitioning are all handled by the normal scan machinery.
 * Nothing row-shaped ever passes through the driver.
 */
object BdeFormat {

  /** One COLUMN header line: name, declared BDE type, nullability. */
  final case class BdeColumn(name: String, bdeType: String, nullable: Boolean) {
    /** Spark type for a BDE header type (SURVEY §1.2 mapping). */
    def sparkType: DataType = bdeType.toLowerCase match {
      case "int" | "integer" | "serial"      => IntegerType
      case "bigint"                          => LongType
      case "smallint"                        => ShortType
      case "float" | "double" | "real" |
           "numeric" | "decimal"             => DoubleType
      case "date"                            => DateType
      case "datetime" | "timestamp"          => TimestampType
      case "bool" | "boolean"                => BooleanType
      case _                                 => StringType // char, varchar, text, geometry-as-EWKT
    }
  }

  /** Parsed BDE header (everything above `{CRS-DATA}`). */
  final case class BdeHeader(
      version: String,
      software: String,
      schemaVersion: String,
      user: String,
      startTime: Option[java.sql.Timestamp],
      endTime: Option[java.sql.Timestamp],
      sql: String,
      table: String,
      columns: Seq[BdeColumn],
      size: Option[Long],
      /** 1-based line number of the first data row (line after `{CRS-DATA}`). */
      dataStartLine: Int,
      /** Byte offset of the first data row — the byte right after the
        * `{CRS-DATA}` line's newline. Lets the distributed reader keep
        * exactly the data region regardless of how the file is split. */
      dataStartOffset: Long = -1L) {
    def sparkSchema: StructType =
      StructType(columns.map(c => StructField(c.name, c.sparkType, c.nullable)))
  }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def parseTs(s: String): Option[java.sql.Timestamp] =
    try Some(java.sql.Timestamp.valueOf(java.time.LocalDateTime.parse(s.trim, tsFmt)))
    catch { case _: Exception => None }

  /** Parse the header of a BDE file. Reads only up to the `{CRS-DATA}`
    * sentinel — constant work regardless of file size. Accepts any local or
    * Hadoop-visible path. */
  def parseHeader(spark: SparkSession, path: String): BdeHeader = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new java.io.BufferedInputStream(
      fs.open(new org.apache.hadoop.fs.Path(path)))
    try {
      // Byte-accurate line reader: we need the exact byte offset of the first
      // data row so the distributed scan can slice the data region precisely
      // (TextInputFormat keys are line byte offsets). Handles \n and \r\n.
      var offset = 0L
      val buf = new java.io.ByteArrayOutputStream(256)
      def readLine(): String = {
        buf.reset()
        var b = in.read()
        if (b < 0) return null
        while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
        offset += buf.size() + (if (b == '\n') 1 else 0)
        val bytes = buf.toByteArray
        val n = if (bytes.nonEmpty && bytes.last == '\r') bytes.length - 1 else bytes.length
        new String(bytes, 0, n, java.nio.charset.StandardCharsets.UTF_8)
      }
      val lines = Iterator.continually(readLine()).takeWhile(_ != null)
      // takeWhile in parseHeaderLines stops right after the sentinel line,
      // so `offset` then points at the first data byte.
      val h = parseHeaderLines(lines)
      h.copy(dataStartOffset = offset)
    } finally in.close()
  }

  /** Header parser over lines; exposed separately for tests. */
  def parseHeaderLines(lines: Iterator[String]): BdeHeader = {
    var version, software, schemaVersion, user, sqlText, table = ""
    var start, end: Option[java.sql.Timestamp] = None
    var size: Option[Long] = None
    val cols = scala.collection.mutable.ArrayBuffer[BdeColumn]()
    var lineNo = 0
    var dataStart = -1
    val it = lines
    // NOTE: test dataStart FIRST — `hasNext` on a buffered/continually
    // iterator reads a lookahead line, which would consume (and mis-account)
    // the first data row once the sentinel has been seen.
    while (dataStart < 0 && it.hasNext) {
      val line = it.next(); lineNo += 1
      if (line.startsWith("{CRS-DATA}")) dataStart = lineNo + 1
      else {
        // key and value are separated by whitespace (tabs or spaces)
        val trimmed = line.replaceFirst("^(\\S+)\\s+", "")
        val key = line.takeWhile(!_.isWhitespace)
        key match {
          case "HEDR"     => version = trimmed
          case "SOFTWARE" => software = trimmed
          case "SCHEMA"   => schemaVersion = trimmed
          case "USER"     => user = trimmed
          case "START"    => start = parseTs(trimmed)
          case "END"      => end = parseTs(trimmed)
          case "SQL"      => sqlText = trimmed
          case "TABLE"    => table = trimmed.trim
          case "SIZE"     => size = trimmed.trim.toLongOption
          case "COLUMN" =>
            // "name type [NOT NULL|NULL]"
            val parts = trimmed.trim.split("\\s+").toSeq
            if (parts.size >= 2) {
              val nullable = !trimmed.toUpperCase.contains("NOT NULL")
              cols += BdeColumn(parts.head.toLowerCase, parts(1).toLowerCase, nullable)
            }
          case _ => // DESC or unknown keys: ignored
        }
      }
    }
    require(dataStart > 0, "BDE file has no {CRS-DATA} sentinel")
    require(cols.nonEmpty, "BDE file declares no COLUMN lines")
    BdeHeader(version, software, schemaVersion, user, start, end, sqlText,
      table, cols.toSeq, size, dataStart)
  }

  /**
   * Read the data region of a BDE file as a DataFrame with the header schema.
   *
   * Implementation: distributed text scan → skip the header lines (the data
   * region starts at a known line number; the header is only in the first
   * file split) → split on `|`. The trailing delimiter means `split` yields
   * exactly `ncols` fields once the trailing empty token is dropped; `''`
   * maps to NULL for all types (reference loads with `NULL AS ''`,
   * lib/LINZ/BdeDatabase.pm:541-542). String columns keep '' → NULL too:
   * the reference's COPY treats the empty field as NULL regardless of type.
   *
   * `dropMalformed` drops rows with the wrong field count, and
   * `malformedObs` counts them in the SAME scan via an
   * `org.apache.spark.sql.Observation` — the accounting `bde_copy` keeps
   * toward `max_errors`/`max_file_errors`
   * (conf/linz_bde_uploader.conf:370-376) without a second pass over the
   * file. The observed `malformed` metric becomes available once the first
   * action over the returned frame completes; at 100 TB the error budget
   * then costs zero extra reads.
   */
  def read(
      spark: SparkSession,
      path: String,
      header: BdeHeader,
      dropMalformed: Boolean = false,
      malformedObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val lines0 = dataLines(spark, path, header).toDF("value")
    val observed = malformedObs.fold(lines0)(obs =>
      lines0.observe(obs, count(when(malformed(header), 1)).as("malformed")))
    val lines = if (dropMalformed) observed.where(!malformed(header)) else observed
    // Parse with a native split: BDE data is never quoted or escaped, so a
    // pipe split IS the full parse. Unlike `spark.read.csv(Dataset[String])`
    // — which compiles its input into an opaque LogicalRDD, severing any
    // upstream CollectMetrics/Observation from the executed plan and
    // breaking whole-stage codegen at the boundary — this keeps the entire
    // read one Catalyst plan. Catalyst does not push filters through
    // CollectMetrics, so the malformed count always sees every line.
    // `getItem` past the end of a short (malformed) row's array yields NULL,
    // matching PERMISSIVE csv semantics.
    val arr = split(col("value"), "\\|", -1)
    val typed = header.columns.zipWithIndex.map { case (c, i) =>
      val s = arr.getItem(i)
      val nulled = when(s === "", lit(null)).otherwise(s)
      (c.sparkType match {
        case StringType    => nulled
        case TimestampType => to_timestamp(nulled, "yyyy-MM-dd HH:mm:ss")
        case t             => nulled.cast(t)
      }).as(c.name)
    }
    lines.select(typed: _*)
  }

  /** Distributed dataset of the raw data lines (header stripped).
    *
    * `TextInputFormat` keys each line with its byte offset in the file, so
    * slicing the data region is an exact per-line predicate against the
    * header's `dataStartOffset` — one distributed scan, no extra job, and
    * correct for ANY split size (a header line can never leak into the data
    * even when a tiny file is split mid-header).
    */
  private def dataLines(spark: SparkSession, path: String, header: BdeHeader) = {
    import spark.implicits._
    val dataStart = header.dataStartOffset
    require(dataStart >= 0, s"header for $path has no dataStartOffset; use parseHeader")
    spark.sparkContext
      .hadoopFile(path,
        classOf[org.apache.hadoop.mapred.TextInputFormat],
        classOf[org.apache.hadoop.io.LongWritable],
        classOf[org.apache.hadoop.io.Text])
      .mapPartitions(
        _.collect { case (off, text) if off.get >= dataStart => text.toString },
        preservesPartitioning = true)
      .filter(_.nonEmpty)
      .toDS()
  }

  /** Whether a raw data line is malformed: a well-formed one has exactly one
    * '|' per field (the format ends every field, including the last, with
    * the delimiter). */
  private def malformed(header: BdeHeader): Column =
    length(col("value")) - length(translate(col("value"), "|", "")) =!= header.columns.size

  /** The malformed data lines of `path`, counted in a scan of their own. */
  def countMalformed(spark: SparkSession, path: String, header: BdeHeader): Long =
    dataLines(spark, path, header).toDF("value").where(malformed(header)).count()

  /** One-call convenience: parse header + read data. */
  def readFile(spark: SparkSession, path: String): DataFrame =
    read(spark, path, parseHeader(spark, path))

  /**
   * Column-intersection projection (reference `bde_SelectValidColumns`,
   * sql/02-bde_control_functions.sql.in:1336-1375): keep file fields that
   * exist in the target table, case-insensitively, preserving FILE order.
   * Zero overlap is an error (lib/LINZ/BdeUpload.pm:1031-1033).
   */
  def selectValidColumns(fileDf: DataFrame, tableColumns: Seq[String]): DataFrame = {
    val tset = tableColumns.map(_.toLowerCase).toSet
    val keep = fileDf.columns.filter(c => tset.contains(c.toLowerCase))
    require(keep.nonEmpty,
      s"no file columns match table columns: file=${fileDf.columns.mkString(",")} table=${tableColumns.mkString(",")}")
    fileDf.select(keep.map(col).toIndexedSeq: _*)
  }
}
