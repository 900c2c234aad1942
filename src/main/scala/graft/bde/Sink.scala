package graft.bde

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/**
 * S5/S6 — table sinks with "dataset transaction" atomicity (SURVEY §7.4b).
 *
 * Every write stages a new table version first and publishes it
 * atomically; readers always see a complete version, and a failed or
 * aborted load leaves the previous version untouched — the Spark
 * equivalent of the reference's per-dataset transaction + rollback
 * (`beginDataset`/`endDataset`, lib/LINZ/BdeDatabase.pm:455-510) and of the
 * truncate-and-replace swap (`bde_ApplyLevel0Update`, sql:1949-1973).
 *
 * A version is staged from one of two inputs. The whole new table: the
 * level-0 replace, the level-0 diff and `l5_is_full` loads. Or one level-5
 * change set (the rows it adds and the keys whose rows it removes, both
 * sized by the change set): the level-5 load. A sink stages the change
 * set's merge as a complete version unless it stores deltas
 * ([[ParquetTableSink]] does).
 *
 * Two implementations:
 *  - [[ParquetTableSink]] — versioned parquet dirs + an atomically-renamed
 *    manifest (the native Spark-storage mode);
 *  - [[JdbcTableSink]] — the reference-parity mode: staged table + one SQL
 *    transaction doing the DELETE/INSERT swap, the Spark analogue of
 *    bde_copy→COPY→swap (lib/LINZ/BdeDatabase.pm:512-565, sql:1949-1973).
 */
trait TableSink {
  def table: String
  /** The currently-published version name, if any. */
  def currentVersion: Option[String]
  def exists: Boolean = currentVersion.isDefined
  /** Read the published table version. */
  def read(): DataFrame
  /** Stage a complete new version; returns its name (NOT yet published). */
  def stage(df: DataFrame, version: String): String
  /** Stage the version that applies one change set to the published one
    * (`_ver_apply_changes`, sql:1762-1765): every row whose `key` is in
    * `removedKeys` (one `key` column, driver-local) goes, and the rows of
    * `added` come in. This default stages the merged table as a complete
    * version. Returns its name (NOT yet published). */
  def stage(added: DataFrame, removedKeys: DataFrame, key: String, version: String): String =
    stage(Diff.merge(read(), Seq(added -> removedKeys), key), version)
  /** Atomically publish a staged version. */
  def publish(stagedName: String): Unit
  /** Drop an unpublished staged version (abort path). */
  def discard(stagedName: String): Unit
  /** Stage + publish in one step (truncate-and-replace semantics). */
  def replace(df: DataFrame, version: String): Unit = publish(stage(df, version))
}

/**
 * Parquet-backed sink: each version is its own directory; publish
 * re-points a tiny `_CURRENT` manifest with one rename (atomic on the
 * local file system and on HDFS).
 *
 * A version directory is one of two kinds:
 *  - a full version: the table's parquet files and nothing else. Every
 *    complete write stages one, and every directory written before deltas
 *    existed is one.
 *  - a delta version: the parquet files of the rows one level-5 load added,
 *    `_REMOVED` (the keys whose rows it removed, one per line) and `_CHAIN`
 *    (the manifest: the table key, the base full version, then every delta
 *    from the oldest to this one, each with the schema its files carry, so
 *    reading a chain infers no schema). Earlier deltas stay directories of
 *    their own, named by every later manifest, never copied.
 *
 * [[read]] resolves `_CURRENT` once and folds a delta version's chain with
 * [[Diff.merge]], the merge a complete rewrite stages: a row of the base or
 * of a delta survives unless a later delta removed its key. A level-5 load
 * therefore writes what it changed, and its staged write scans only the
 * increment. A fixed rule bounds the chain: a load whose chain already
 * holds [[ParquetTableSink.MaxDeltas]] deltas, or whose deltas hold more
 * than a quarter of the base's bytes, stages a complete version instead
 * (compaction). So does a table whose key is not an integer (the
 * reference's `bde_TableKeyIsValid` allows int and bigint only).
 *
 * At 100 TB the staged write is a normal distributed parquet write (all
 * executors), and publish cost is one metadata rename — no data is ever
 * rewritten to swap versions.
 */
final class ParquetTableSink(
    spark: SparkSession,
    rootDir: String,
    val table: String,
    /** `-k | -keep-files` (bin/linz_bde_uploader.pl:93): leave failed /
      * aborted staged version dirs on disk for inspection instead of
      * deleting them — the reference keeps its scratch files the same way
      * (`rmtree($tmp) if ! keepfiles`, lib/LINZ/BdeUpload.pm:465). Kept
      * dirs stay prunable later via [[pruneVersions]] / `-m`. */
    keepFiles: Boolean = false) extends TableSink {

  import ParquetTableSink._

  private val tableDir = new Path(s"$rootDir/$table")
  private val currentPtr = new Path(tableDir, "_CURRENT")
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = tableDir.getFileSystem(conf)
  private def dir(version: String) = new Path(tableDir, version)

  private def readText(p: Path): Option[String] = {
    val f = fs
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }
  }

  def currentVersion: Option[String] = readText(currentPtr).map(_.trim).filter(_.nonEmpty)

  /** The `_CHAIN` manifest of a delta version; None for a full version. */
  private def chainOf(version: String): Option[Chain] =
    readText(new Path(dir(version), ChainFile)).map(Chain.parse)

  /** The version directories `version` is read from. */
  private def versionsRead(version: String): Seq[String] =
    chainOf(version).fold(Seq(version))(_.layers.map(_.version))

  /** A full version, its schema read from its files (one Spark job). */
  private def parquet(version: String): DataFrame =
    spark.read.parquet(dir(version).toString)

  /** A layer of a chain, read with the schema its manifest records. */
  private def parquet(layer: Layer): DataFrame =
    spark.read.schema(layer.schema).parquet(dir(layer.version).toString)

  /** A delta's removed keys as a driver-local relation of the key's type. */
  private def removedOf(delta: String, key: String, keyType: DataType): DataFrame = {
    val text = readText(new Path(dir(delta), RemovedFile)).getOrElse(
      throw new IllegalStateException(s"table $table: delta $delta has no $RemovedFile"))
    val rows = text.linesIterator.filter(_.nonEmpty).map(k => Row(k.toLong)).toSeq
    spark.createDataFrame(rows.asJava, StructType(Seq(StructField(key, LongType))))
      .select(col(key).cast(keyType))
  }

  def read(): DataFrame = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"table $table has no published version"))
    chainOf(v).fold(parquet(v)) { c =>
      val keyType = c.base.schema(c.key).dataType
      Diff.merge(parquet(c.base),
        c.deltas.map(d => parquet(d) -> removedOf(d.version, c.key, keyType)), c.key)
    }
  }

  /** The name to stage `version` under: `v_<version>`, or the first free
    * `_r<n>` suffix when that name is published or its directory exists —
    * a version a `-rebuild` reloads may be the published one or in its
    * chain, and a crashed or kept (`-keep-files`) load leaves its directory
    * behind. Staging never writes into an existing directory: a reader of
    * a published chain may be scanning it, and a failed load's discard
    * would delete it. Existing directories stay prunable by `-m`. */
  private def freshName(version: String): String = {
    val current = currentVersion
    val base = s"v_$version"
    (Iterator.single(base) ++ Iterator.from(1).map(i => s"${base}_r$i"))
      .find(n => !current.contains(n) && !fs.exists(dir(n)))
      .get
  }

  def stage(df: DataFrame, version: String): String = {
    val name = freshName(version)
    df.write.mode("overwrite").parquet(dir(name).toString)
    name
  }

  /** Stage a change set as a delta version on top of the published chain
    * (a full published version becomes the base of a new chain), or, by the
    * compaction rule in the class doc, as a complete version. The delta's
    * one Spark job writes `added`; `removedKeys` is collected from the
    * driver and written there with the manifest. */
  override def stage(added: DataFrame, removedKeys: DataFrame, key: String,
      version: String): String = {
    val integerKey = added.schema(key).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // a full published version becomes the base of a new chain; its
    // schema is read once here, then carried by every manifest
    def newChain(v: String) = Chain(key, Layer(v, parquet(v).schema), Nil)
    currentVersion.filter(_ => integerKey)
      .map(v => chainOf(v).getOrElse(newChain(v)))
      .filter(c => c.key == key && !compacts(c))
      .fold(super.stage(added, removedKeys, key, version)) { c =>
        val name = freshName(version)
        added.write.mode("overwrite").parquet(dir(name).toString)
        writeText(name, RemovedFile,
          removedKeys.collect().map(_.get(0)).distinct.map(k => s"$k\n").mkString)
        writeText(name, ChainFile,
          c.copy(deltas = c.deltas :+ Layer(name, added.schema)).render)
        name
      }
  }

  private def compacts(c: Chain): Boolean = {
    def bytes(l: Layer) = fs.getContentSummary(dir(l.version)).getLength
    c.deltas.size >= MaxDeltas ||
      (c.deltas.nonEmpty && c.deltas.map(bytes).sum * 4 > bytes(c.base))
  }

  private def writeText(version: String, name: String, text: String): Unit =
    ControlStore.replaceFile(conf, new Path(dir(version), name), s".$name.tmp",
      text.getBytes("UTF-8"))

  /** Publish a staged version: write `stagedName` to a `_CURRENT.tmp.*`
    * sibling and rename it onto `_CURRENT` ([[ControlStore.replaceFile]]).
    * On the local file system that rename is one atomic `rename(2)`; on
    * HDFS it is an atomic `FileContext` OVERWRITE rename. Either way there
    * is never an instant with no published version (a delete-then-rename
    * window would make a concurrent reader see the table vanish and a
    * crash strand it pointerless). A delta version's chain is fixed when it
    * is staged, so this one rename publishes it too. */
  def publish(stagedName: String): Unit =
    ControlStore.replaceFile(conf, currentPtr,
      s"_CURRENT.tmp.$stagedName", stagedName.getBytes("UTF-8"))

  def discard(stagedName: String): Unit = {
    if (!keepFiles) fs.delete(dir(stagedName), true)
    ()
  }

  /** Storage maintenance — the parquet analogue of the reference's
    * post-run `VACUUM ANALYSE` (`maintain`, lib/LINZ/BdeDatabase.pm:400-405):
    * every publish leaves the previous version directory behind (that is
    * what makes publish an atomic pointer swap), so a daily-load table
    * accumulates versions. Deletes all version dirs except the published
    * one plus the `keepPrevious` most recent others (kept for in-flight
    * readers that resolved `_CURRENT` just before a swap), and except every
    * base and delta that the chains of those versions name.
    * Returns the names removed. */
  def pruneVersions(keepPrevious: Int = 1): Seq[String] = {
    require(keepPrevious >= 0)
    val f = fs
    if (!f.exists(tableDir)) return Nil
    val current = currentVersion
    val versions = f.listStatus(tableDir)
      .filter(_.isDirectory)
      .map(s => (s.getPath.getName, s.getModificationTime))
      .filter { case (n, _) => n.startsWith("v_") && !current.contains(n) }
      // newest first; same-second publishes tie-break on the version name,
      // which for dataset-named versions sorts chronologically
      .sortBy { case (n, t) => (-t, n) }(
        Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))
      .map(_._1)
    val (kept, older) = versions.splitAt(keepPrevious)
    val referenced = (current.toSeq ++ kept).flatMap(versionsRead).toSet
    val doomed = older.filterNot(referenced)
    doomed.foreach(n => f.delete(dir(n), true))
    doomed.toSeq
  }
}

object ParquetTableSink {
  /** A chain holds at most this many deltas; the next load compacts it. */
  val MaxDeltas = 8

  private val ChainFile = "_CHAIN"
  private val RemovedFile = "_REMOVED"

  /** A version directory of a chain and the schema its files carry
    * (recorded, so that reading a chain infers no schema). */
  private final case class Layer(version: String, schema: StructType)

  /** A delta version's manifest: the table key, the base full version and
    * the deltas, oldest first; the last delta is the version itself. One
    * line each: `key <column>`, `base <dir> <schema json>`, `delta <dir>
    * <schema json>`. */
  private final case class Chain(key: String, base: Layer, deltas: Seq[Layer]) {
    def layers: Seq[Layer] = base +: deltas
    def render: String = (s"key $key" +: s"base ${line(base)}" +:
      deltas.map(d => s"delta ${line(d)}")).mkString("", "\n", "\n")
    private def line(l: Layer) = s"${l.version} ${l.schema.json}"
  }

  private object Chain {
    def parse(text: String): Chain = {
      val fields = text.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split(" ", 2); k -> v
      }.toSeq
      def layer(v: String) = {
        val Array(version, schema) = v.split(" ", 2)
        Layer(version, DataType.fromJson(schema).asInstanceOf[StructType])
      }
      def one(k: String) = fields.collectFirst { case (`k`, v) => v }
        .getOrElse(throw new IllegalStateException(s"$ChainFile has no $k line"))
      Chain(one("key"), layer(one("base")),
        fields.collect { case ("delta", v) => layer(v) })
    }
  }
}

/**
 * JDBC-backed sink — the reference-parity mode (BASELINE's "DataFrame ops +
 * JDBC sink"). Staging is a distributed `df.write.jdbc` into a scratch
 * table (the working copy, `bde_CreateWorkingCopy` sql:1237-1288); publish
 * runs ONE SQL transaction doing `DELETE FROM final; INSERT INTO final
 * SELECT * FROM staged` — exactly the reference's swap
 * (sql/02-bde_control_functions.sql.in:1949-1973) under its per-dataset
 * transaction scoping (lib/LINZ/BdeDatabase.pm:455-510). The published
 * version name lives in a one-row `<table>__meta` table updated in the
 * same transaction, so version visibility commits atomically with the data.
 *
 * Tested against embedded Derby (the JDK-available engine here); the SQL
 * is deliberately vanilla (CREATE TABLE ... WITH NO DATA, DELETE, INSERT
 * SELECT) so PostgreSQL works unchanged.
 *
 * Publish runs under a per-table EXCLUSIVE LOCK with bounded 1 s retries —
 * the analogue of the reference's `_bde_GetExclusiveLock`
 * (sql/02-bde_control_functions.sql.in:696-762): two publishers contending
 * for the same final table serialize instead of interleaving their
 * DELETE/INSERT swaps, and a timeout raises with the current owner as the
 * diagnostic. The lock is a single PRIMARY-KEYed row claimed by an atomic
 * `UPDATE ... WHERE owner IS NULL` (portable Derby/PG; no engine-specific
 * advisory-lock calls), released in a `finally`.
 */
final class JdbcTableSink(
    spark: SparkSession,
    url: String,
    val table: String,
    props: java.util.Properties = new java.util.Properties(),
    lockTimeoutSeconds: Int = 30,
    lockRetryMillis: Long = 1000L,
    /** A holder older than this is presumed crashed and its claim is stolen
      * (CAS on the exact owner+acquired_at). The reference's DB lock
      * vanishes with its session; an owner ROW persists a crash, so without
      * expiry a killed publisher would block the table forever. Holders
      * must re-publish within this budget. */
    lockStaleSeconds: Int = 300)
  extends TableSink {

  require(table.matches("[A-Za-z0-9_]+"), s"unsafe table name: $table")

  private val metaTable = s"${table}__meta"
  private val lockTable = s"${table}__lock"

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  /** Case-insensitive existence check (Derby folds to upper, PG to lower). */
  private def tableExists(c: java.sql.Connection, name: String): Boolean = {
    def hit(n: String): Boolean = {
      val rs = c.getMetaData.getTables(null, null, n, null)
      try rs.next() finally rs.close()
    }
    hit(name.toUpperCase) || hit(name.toLowerCase) || hit(name)
  }

  def currentVersion: Option[String] = withConn { c =>
    if (!tableExists(c, metaTable)) None
    else {
      val rs = c.createStatement().executeQuery(s"SELECT version FROM $metaTable")
      try { if (rs.next()) Option(rs.getString(1)) else None } finally rs.close()
    }
  }

  def read(): DataFrame = {
    if (!exists)
      throw new IllegalStateException(s"table $table has no published version")
    spark.read.jdbc(url, table, props)
  }

  def stage(df: DataFrame, version: String): String = {
    require(version.matches("[A-Za-z0-9_]+"), s"unsafe version name: $version")
    val name = s"${table}__stg_$version"
    // reference parity: the working copy is created LIKE the live table
    // (`bde_CreateWorkingCopy`, sql/02-bde_control_functions.sql.in:
    // 1237-1288), so staged columns carry the LIVE column types — not the
    // JDBC writer's defaults (which map strings to CLOB on Derby, an
    // unindexable type that would break the schema-information copy).
    // First-ever publish has no live table; the writer's mapping stands
    val cloned = withConn { c =>
      if (!tableExists(c, table)) false
      else {
        val st = c.createStatement()
        try {
          if (tableExists(c, name)) st.executeUpdate(s"DROP TABLE $name")
          st.executeUpdate(
            s"CREATE TABLE $name AS SELECT * FROM $table WITH NO DATA")
          true
        } finally st.close()
      }
    }
    if (cloned) df.write.mode("append").jdbc(url, name, props)
    else df.write.mode("overwrite").jdbc(url, name, props)
    name
  }

  /** Ensure the one-row lock table exists. The row is PRIMARY-KEYed so a
    * creation race between two publishers cannot seed two claimable rows
    * (the second INSERT fails on the key — ONLY race losses are swallowed:
    * if the row still does not exist afterwards, the original error was a
    * real one (permissions, connectivity) and is surfaced instead of
    * decaying into an opaque lock timeout). */
  private def ensureLockTable(c: java.sql.Connection): Unit = {
    var firstError: Option[java.sql.SQLException] = None
    if (!tableExists(c, lockTable))
      try c.createStatement().executeUpdate(
        s"CREATE TABLE $lockTable (id INT PRIMARY KEY, " +
          "owner VARCHAR(128), acquired_at TIMESTAMP)")
      catch { case e: java.sql.SQLException => firstError = Some(e) }
    val st = c.createStatement()
    try {
      def rowCount(): Long =
        try {
          val rs = st.executeQuery(s"SELECT COUNT(*) FROM $lockTable")
          try { rs.next(); rs.getLong(1) } finally rs.close()
        } catch { case e: java.sql.SQLException =>
          firstError = firstError.orElse(Some(e)); -1L
        }
      if (rowCount() == 0)
        try st.executeUpdate(s"INSERT INTO $lockTable (id) VALUES (1)")
        catch { case e: java.sql.SQLException =>
          firstError = firstError.orElse(Some(e))
        }
      if (rowCount() < 1)
        throw new IllegalStateException(
          s"lock table $lockTable could not be created/seeded " +
            "(check DDL permissions)", firstError.orNull)
    } finally st.close()
  }

  /** Atomic claim: one UPDATE flips the NULL owner to us, or nobody's. */
  private def tryAcquire(c: java.sql.Connection, owner: String): Boolean = {
    val ps = c.prepareStatement(
      s"UPDATE $lockTable SET owner = ?, acquired_at = CURRENT_TIMESTAMP " +
        "WHERE id = 1 AND owner IS NULL")
    try { ps.setString(1, owner); ps.executeUpdate() == 1 } finally ps.close()
  }

  private def lockOwner(c: java.sql.Connection): Option[String] = {
    val rs = c.createStatement()
      .executeQuery(s"SELECT owner FROM $lockTable WHERE id = 1")
    try { if (rs.next()) Option(rs.getString(1)) else None } finally rs.close()
  }

  /** Release a holder presumed crashed: CAS on its exact (owner,
    * acquired_at) claim, aged against the DATABASE clock (read in the same
    * statement, so publisher clock skew is irrelevant). */
  private def stealIfStale(c: java.sql.Connection): Unit = {
    val rs = c.createStatement().executeQuery(
      s"SELECT owner, acquired_at, CURRENT_TIMESTAMP FROM $lockTable WHERE id = 1")
    val claim = try {
      if (rs.next()) (Option(rs.getString(1)), Option(rs.getTimestamp(2)),
        rs.getTimestamp(3))
      else (None, None, null)
    } finally rs.close()
    claim match {
      case (Some(holder), Some(at), dbNow)
          if dbNow.getTime - at.getTime > lockStaleSeconds * 1000L =>
        val ps = c.prepareStatement(
          s"UPDATE $lockTable SET owner = NULL, acquired_at = NULL " +
            "WHERE id = 1 AND owner = ? AND acquired_at = ?")
        try { ps.setString(1, holder); ps.setTimestamp(2, at); ps.executeUpdate() }
        finally ps.close()
        ()
      case _ => ()
    }
  }

  /** Acquire the exclusive publish lock with bounded 1 s retries
    * (`_bde_GetExclusiveLock` semantics, sql:696-762); on timeout the
    * error names the current owner. Returns the owner token to release. */
  private def acquireExclusive(): String = {
    val owner = s"${java.net.InetAddress.getLocalHost.getHostName}:" +
      s"${ProcessHandle.current.pid}:${java.util.UUID.randomUUID.toString.take(8)}"
    withConn(ensureLockTable)
    val deadlineNanos = System.nanoTime + lockTimeoutSeconds * 1000L * 1000 * 1000
    while (!withConn(tryAcquire(_, owner))) {
      withConn(stealIfStale)
      if (System.nanoTime > deadlineNanos) {
        val holder = withConn(lockOwner).getOrElse("<unknown>")
        throw new IllegalStateException(
          s"could not get exclusive lock on $table after ${lockTimeoutSeconds}s: " +
            s"held by $holder")
      }
      Thread.sleep(lockRetryMillis)
    }
    owner
  }

  private def releaseExclusive(owner: String): Unit = withConn { c =>
    val ps = c.prepareStatement(
      s"UPDATE $lockTable SET owner = NULL, acquired_at = NULL WHERE owner = ?")
    try { ps.setString(1, owner); ps.executeUpdate(); () } finally ps.close()
  }

  def publish(stagedName: String): Unit = {
    val owner = acquireExclusive()
    try {
      // reference parity: the working copy receives the live table's
      // constraints/indexes BEFORE the swap transaction
      // (bde_ApplyLevel0Update 'Copying schema information to temp table',
      // sql/02-bde_control_functions.sql.in:1883-1905) — staged data that
      // violates the live contract fails HERE, before the live DELETE
      copySchemaInformation(stagedName)
      publishLocked(stagedName)
    }
    finally releaseExclusive(owner)
  }

  /**
   * Mirror of `_bde_CopySchemaInformation`
   * (/root/reference/sql/02-bde_control_functions.sql.in:2487-2559): copy
   * the LIVE table's primary key, unique indexes, and plain indexes onto a
   * staged table, engine-neutrally (JDBC `DatabaseMetaData`
   * getPrimaryKeys/getIndexInfo + vanilla DDL, where the reference reads
   * pg_constraint/pg_index). Key columns are set NOT NULL first — the
   * distributed JDBC writer stages every column nullable — trying the
   * PostgreSQL form (`SET NOT NULL`) then Derby's (`NOT NULL`).
   *
   * Column statistics targets (`_bde_CopyStatisticsInformation`,
   * sql.in:2561-2593) are PostgreSQL catalog state with no JDBC metadata
   * surface: applied via pg_attribute when the connection understands it,
   * silently skipped elsewhere (Derby has no per-column stats targets).
   *
   * No-op when the live table does not exist yet (first publish). Returns
   * the DDL executed, in order, for observability and the oracle row.
   */
  def copySchemaInformation(stagedName: String): Seq[String] = withConn { c =>
    val md = c.getMetaData
    def firstExisting(n: String): Option[String] =
      Seq(n.toUpperCase, n.toLowerCase, n).distinct.find { v =>
        val rs = md.getTables(null, null, v, null)
        try rs.next() finally rs.close()
      }
    (firstExisting(table), firstExisting(stagedName)) match {
      case (Some(live), Some(staged)) =>
        val ddl = scala.collection.mutable.ArrayBuffer[String]()
        val st = c.createStatement()
        def exec(sql: String): Unit = { st.executeUpdate(sql); ddl += sql }
        def pkOf(t: String): Seq[String] = {
          val rs = md.getPrimaryKeys(null, null, t)
          val buf = scala.collection.mutable.ArrayBuffer[(Short, String)]()
          try while (rs.next())
            buf += rs.getShort("KEY_SEQ") -> rs.getString("COLUMN_NAME")
          finally rs.close()
          buf.sortBy(_._1).map(_._2).toSeq
        }
        def indexesOf(t: String)
            : Seq[(Boolean, Seq[String])] = {
          // grouped per index, ordinal order; statistics pseudo-rows
          // (null column) skipped
          val byIndex = scala.collection.mutable.LinkedHashMap[
            String, (Boolean, scala.collection.mutable.ArrayBuffer[(Short, String)])]()
          val rs = md.getIndexInfo(null, null, t, false, false)
          try while (rs.next()) {
            val name = rs.getString("INDEX_NAME")
            val colName = rs.getString("COLUMN_NAME")
            if (name != null && colName != null) {
              val e = byIndex.getOrElseUpdate(name,
                (!rs.getBoolean("NON_UNIQUE"),
                  scala.collection.mutable.ArrayBuffer[(Short, String)]()))
              e._2 += rs.getShort("ORDINAL_POSITION") -> colName
            }
          } finally rs.close()
          byIndex.values.map { case (u, b) =>
            (u, b.sortBy(_._1).map(_._2).toSeq)
          }.toSeq
        }
        // the distributed JDBC writer creates the staged table with QUOTED
        // (case-preserved) column names while a pre-created live table
        // typically stores the unquoted (engine-folded) form — resolve each
        // live column to the staged table's actual identifier and quote it
        val stagedCols: Seq[String] = {
          val rs = md.getColumns(null, null, staged, null)
          val buf = scala.collection.mutable.ArrayBuffer[String]()
          try while (rs.next()) buf += rs.getString("COLUMN_NAME")
          finally rs.close()
          buf.toSeq
        }
        def q(liveCol: String): String =
          "\"" + stagedCols.find(_.equalsIgnoreCase(liveCol))
            .getOrElse(liveCol) + "\""
        try {
          val pkCols = pkOf(live)
          // idempotent under a crashed-publish retry: skip what the
          // staged table already carries
          if (pkCols.nonEmpty && pkOf(staged).isEmpty) {
            pkCols.foreach { k =>
              try exec(s"ALTER TABLE $stagedName ALTER COLUMN ${q(k)} SET NOT NULL")
              catch { case _: java.sql.SQLException =>
                exec(s"ALTER TABLE $stagedName ALTER COLUMN ${q(k)} NOT NULL")
              }
            }
            exec(s"ALTER TABLE $stagedName ADD CONSTRAINT " +
              s"${stagedName}_pk PRIMARY KEY (${pkCols.map(q).mkString(", ")})")
          }
          // indexes: skip the one backing the PRIMARY KEY (the reference's
          // `indexrelid NOT IN (... contype IN ('u','p'))` exclusion — the
          // ADD CONSTRAINT above rebuilt it) and any already present on
          // the staged table (retry idempotence)
          // compare column LISTS case-insensitively (live folds unquoted
          // identifiers up, staged preserves the writer's case)
          def norm(ix: (Boolean, Seq[String])) =
            (ix._1, ix._2.map(_.toLowerCase))
          val have = indexesOf(staged).map(norm).toSet
          indexesOf(live).foreach { case ix @ (unique, cols) =>
            if (!(unique && cols == pkCols) && !have.contains(norm(ix))) {
              val u = if (unique) "UNIQUE " else ""
              // name derives from the column list (not a counter) so a
              // crashed-and-retried copy can never collide with its own
              // earlier partial progress
              val base = (s"${stagedName}_ix_" +
                cols.mkString("_").toLowerCase + (if (unique) "_u" else ""))
                .replaceAll("[^A-Za-z0-9_]", "")
              // PostgreSQL silently truncates identifiers to 63 bytes, so
              // two long column lists sharing a 63-char prefix would fold
              // to the SAME name and the second CREATE INDEX would fail
              // mid-publish. Keep the name under the limit ourselves,
              // replacing the truncated tail with a hash of the FULL name
              // (deterministic, so retry idempotence is preserved).
              val nm =
                if (base.length <= 63) base
                else base.take(54) + "_" + f"${
                  scala.util.hashing.MurmurHash3.stringHash(base)}%08x"
              exec(s"CREATE ${u}INDEX $nm " +
                s"ON $stagedName (${cols.map(q).mkString(", ")})")
            }
          }
          // per-column statistics targets — PostgreSQL only
          try {
            val targets = {
              val q = st.executeQuery("SELECT attname, attstattarget " +
                s"FROM pg_attribute WHERE attrelid = '$live'::regclass " +
                "AND attnum > 0 AND NOT attisdropped AND attstattarget > 0")
              val buf = scala.collection.mutable.ArrayBuffer[(String, Int)]()
              try while (q.next()) buf += q.getString(1) -> q.getInt(2)
              finally q.close()
              buf.toSeq
            }
            targets.foreach { case (n, t) =>
              exec(s"ALTER TABLE $stagedName ALTER COLUMN ${q(n)} " +
                s"SET STATISTICS $t")
            }
          } catch { case _: java.sql.SQLException => () }
          ddl.toSeq
        } finally st.close()
      case _ => Seq.empty
    }
  }

  private def publishLocked(stagedName: String): Unit = withConn { c =>
    c.setAutoCommit(false) // the per-dataset transaction
    val st = c.createStatement()
    try {
      if (!tableExists(c, table))
        st.executeUpdate(
          s"CREATE TABLE $table AS SELECT * FROM $stagedName WITH NO DATA")
      st.executeUpdate(s"DELETE FROM $table")
      st.executeUpdate(s"INSERT INTO $table SELECT * FROM $stagedName")
      if (!tableExists(c, metaTable))
        st.executeUpdate(s"CREATE TABLE $metaTable (version VARCHAR(128))")
      st.executeUpdate(s"DELETE FROM $metaTable")
      val ps = c.prepareStatement(s"INSERT INTO $metaTable VALUES (?)")
      try { ps.setString(1, stagedName); ps.executeUpdate() } finally ps.close()
      st.executeUpdate(s"DROP TABLE $stagedName")
      c.commit()
    } catch {
      case e: Throwable => c.rollback(); throw e
    } finally st.close()
  }

  def discard(stagedName: String): Unit = withConn { c =>
    if (tableExists(c, stagedName))
      c.createStatement().executeUpdate(s"DROP TABLE $stagedName")
    ()
  }
}
