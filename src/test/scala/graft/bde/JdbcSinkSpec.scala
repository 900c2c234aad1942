package graft.bde

import java.nio.file.Files

import graft.SparkSuite

/** Reference-parity JDBC sink against embedded Derby: staged-table swap in
  * one transaction (the Spark analogue of COPY into a working table +
  * DELETE/INSERT swap, lib/LINZ/BdeDatabase.pm:512-565, sql:1949-1973). */
class JdbcSinkSpec extends SparkSuite {
  import spark.implicits._

  private def derbyUrl(): String = {
    val dir = Files.createTempDirectory("derby-spec")
    s"jdbc:derby:$dir/db;create=true"
  }

  test("stage, publish, replace, discard round-trip") {
    val url = derbyUrl()
    val sink = new JdbcTableSink(spark, url, "t_jdbc")
    assert(!sink.exists)
    sink.replace(Seq((1, "a"), (2, "b")).toDF("id", "v"), "v1")
    assert(sink.exists)
    assert(sink.currentVersion.contains("t_jdbc__stg_v1"))
    assert(sink.read().count() == 2)
    // stage v2: invisible until publish
    val staged = sink.stage(Seq((3, "c")).toDF("id", "v"), "v2")
    assert(sink.read().count() == 2)
    assert(spark.read.jdbc(url, staged, new java.util.Properties()).count() == 1)
    sink.publish(staged)
    assert(sink.read().collect().map(_.getInt(0)).toSeq == Seq(3))
    // discard leaves the published version intact
    val s3 = sink.stage(Seq((9, "z")).toDF("id", "v"), "v3")
    sink.discard(s3)
    assert(sink.read().count() == 1)
    assert(sink.currentVersion.contains("t_jdbc__stg_v2"))
  }

  test("publish copies the live table's PK and indexes onto the staged table") {
    // _bde_CopySchemaInformation parity: a pre-created live table (the
    // reference's tables come from linz-bde-schema) carries a PRIMARY KEY
    // and a secondary index; the staged table must receive both before
    // the swap, and the live contract must survive the publish
    val url = derbyUrl()
    def raw(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { c.createStatement().executeUpdate(sql); () } finally c.close()
    }
    raw("CREATE TABLE t_ddl (id INT NOT NULL, v VARCHAR(16), " +
      "CONSTRAINT t_ddl_pk PRIMARY KEY (id))")
    raw("CREATE INDEX t_ddl_vix ON t_ddl (v)")
    val sink = new JdbcTableSink(spark, url, "t_ddl")
    val staged = sink.stage(Seq((1, "a"), (2, "b")).toDF("id", "v"), "v1")
    val ddl = sink.copySchemaInformation(staged)
    assert(ddl.exists(_.matches("(?i).*PRIMARY KEY \\(\"?id\"?\\)")),
      ddl.mkString("; "))
    assert(ddl.exists(s => s.startsWith("CREATE INDEX") &&
        s.matches("(?i).*\\(\"?v\"?\\)")),
      ddl.mkString("; "))
    // the staged PK now REJECTS duplicate keys — the pre-swap validation
    // the reference gets from copying constraints onto the working copy
    val c = java.sql.DriverManager.getConnection(url)
    try intercept[java.sql.SQLException] {
      c.createStatement().executeUpdate(
        s"INSERT INTO $staged VALUES (1, 'dup')")
    } finally c.close()
    sink.publish(staged)
    assert(sink.read().count() == 2)
    // live PK survives the DELETE/INSERT swap
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c2.getMetaData.getPrimaryKeys(null, null, "T_DDL")
      val pk = try {
        val b = scala.collection.mutable.ArrayBuffer[String]()
        while (rs.next()) b += rs.getString("COLUMN_NAME")
        b.toSeq
      } finally rs.close()
      assert(pk == Seq("ID"), pk.toString)
    } finally c2.close()
    // second publish: copy runs again against a fresh staged table
    val staged2 = sink.stage(Seq((3, "c")).toDF("id", "v"), "v2")
    sink.publish(staged2)
    assert(sink.read().collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("copied index names stay under the 63-char identifier limit") {
    // PostgreSQL truncates identifiers at 63 bytes SILENTLY, so two
    // generated names sharing a 63-char prefix (here: both indexes lead
    // with the same 51-char column) would fold to one name and the
    // second CREATE INDEX would fail mid-publish; the hash suffix keeps
    // them short AND distinct
    val url = derbyUrl()
    def raw(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { c.createStatement().executeUpdate(sql); () } finally c.close()
    }
    val long = "c" + "x" * 50
    raw(s"CREATE TABLE t_ddl63 (id INT NOT NULL, $long INT, " +
      "a_tail INT, b_tail INT, CONSTRAINT t_ddl63_pk PRIMARY KEY (id))")
    raw(s"CREATE INDEX t_ddl63_i1 ON t_ddl63 ($long, a_tail)")
    raw(s"CREATE INDEX t_ddl63_i2 ON t_ddl63 ($long, b_tail)")
    val sink = new JdbcTableSink(spark, url, "t_ddl63")
    val staged = sink.stage(
      Seq((1, 2, 3, 4)).toDF("id", long, "a_tail", "b_tail"), "v1")
    val ddl = sink.copySchemaInformation(staged)
    val names = ddl.filter(_.startsWith("CREATE INDEX"))
      .map(_.split("\\s+")(2))
    assert(names.length == 2, ddl.mkString("; "))
    assert(names.distinct.length == 2, names.toString)
    assert(names.forall(_.length <= 63), names.toString)
    // retry idempotence survives the rename: a second copy finds both
    // indexes already present and creates nothing
    assert(!sink.copySchemaInformation(staged)
      .exists(_.startsWith("CREATE INDEX")))
  }

  test("publish takes the exclusive lock: held lock times out with owner; released lock is awaited") {
    val url = derbyUrl()
    val fast = new JdbcTableSink(spark, url, "t_lock",
      lockTimeoutSeconds = 2, lockRetryMillis = 100L)
    fast.replace(Seq((1, "a")).toDF("id", "v"), "v1") // creates lock table
    // A contender (another process, in reference terms) holds the lock
    val c = java.sql.DriverManager.getConnection(url)
    try {
      c.createStatement().executeUpdate(
        "UPDATE t_lock__lock SET owner = 'other-host:42:deadbeef', " +
          "acquired_at = CURRENT_TIMESTAMP WHERE id = 1")
    } finally c.close()
    val staged = fast.stage(Seq((2, "b")).toDF("id", "v"), "v2")
    val e = intercept[IllegalStateException](fast.publish(staged))
    assert(e.getMessage.contains("other-host:42:deadbeef"))
    assert(fast.read().collect().map(_.getInt(0)).toSeq == Seq(1)) // untouched
    // Holder releases after ~0.5 s: a patient publisher retries and wins
    val patient = new JdbcTableSink(spark, url, "t_lock",
      lockTimeoutSeconds = 30, lockRetryMillis = 100L)
    val releaser = new Thread(() => {
      Thread.sleep(500)
      val c2 = java.sql.DriverManager.getConnection(url)
      try c2.createStatement().executeUpdate(
        "UPDATE t_lock__lock SET owner = NULL, acquired_at = NULL WHERE id = 1")
      finally c2.close()
    })
    releaser.start()
    patient.publish(staged)
    releaser.join()
    assert(patient.read().collect().map(_.getInt(0)).toSeq == Seq(2))
    // and the lock is free again afterwards
    patient.replace(Seq((3, "c")).toDF("id", "v"), "v3")
    assert(patient.read().collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("a crashed publisher's stale lock is stolen after lockStaleSeconds") {
    val url = derbyUrl()
    val sink = new JdbcTableSink(spark, url, "t_stale",
      lockTimeoutSeconds = 10, lockRetryMillis = 100L, lockStaleSeconds = 60)
    sink.replace(Seq((1, "a")).toDF("id", "v"), "v1")
    // a holder that died long ago: acquired_at two hours in the past
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      "UPDATE t_stale__lock SET owner = 'dead-host:1:beef', " +
        "acquired_at = {fn TIMESTAMPADD(SQL_TSI_HOUR, -2, CURRENT_TIMESTAMP)} " +
        "WHERE id = 1")
    finally c.close()
    // publish recovers by stealing the stale claim — no manual SQL needed
    val staged = sink.stage(Seq((2, "b")).toDF("id", "v"), "v2")
    sink.publish(staged)
    assert(sink.read().collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("E2E slice through the JDBC sink: same final rows and stats") {
    val st = E2E.stageRepository()
    val sink = new JdbcTableSink(spark, derbyUrl(), "crs_parcel_bndry")
    Loader.level0Replace(spark, sink, Seq(st.l0File), E2E.L0Dataset)
    assert(sink.read().count() == 3)
    val chg = BdeFormat.readFile(spark, st.changeFile)
    val stats = Loader.level5Apply(spark, sink, Seq(st.l5File), chg,
      E2E.TableName, E2E.KeyColumn, E2E.L5Dataset,
      tolError = Some(0.20), tolWarning = Some(0.95))
    assert((stats.ninsert, stats.nupdate, stats.nnullupdate, stats.ndelete)
      == (3L, 2L, 0L, 1L))
    val rows = sink.read().orderBy("pri_id").collect()
      .map(x => (x.getInt(0), x.getInt(1), x.getInt(2), x.getString(3), x.getInt(4)))
    assert(rows.toSeq == Seq(
      (4457326, 3, 11960041, "Y", 100),
      (4457327, 20, 29694578, "N", 80401149),
      (4457328, 10, 29694591, "Y", 80401148),
      (4457329, 4, 10000000, "Y", 300),
      (4457330, 5, 20000000, "Y", 400)))
  }

  test("tolerance breach discards the staged JDBC table, keeps published") {
    val st = E2E.stageRepository()
    val sink = new JdbcTableSink(spark, derbyUrl(), "crs_parcel_bndry")
    Loader.level0Replace(spark, sink, Seq(st.l0File), E2E.L0Dataset)
    import org.apache.spark.sql.functions.col
    val deletesOnly = BdeFormat.readFile(spark, st.changeFile)
      .where(col("action") === "D")
    val stats = Loader.level5Apply(spark, sink, Seq(st.l5File), deletesOnly,
      E2E.TableName, E2E.KeyColumn, E2E.L5Dataset,
      tolError = Some(0.95), tolWarning = Some(0.95))
    assert(stats.aborted)
    assert(sink.read().count() == 3) // still the level-0 version
    assert(sink.currentVersion.exists(_.endsWith(E2E.L0Dataset)))
  }

  test("level-5 apply through the JDBC sink: counts observed on the staged write") {
    val dir = Files.createTempDirectory("jdbc-l5")
    val sink = new JdbcTableSink(spark, derbyUrl(), L5Slice.Table)
    L5Slice.loadLevel0(spark, sink, dir)
    val inc = L5Slice.dataFile(dir, "l5.crs", L5Slice.l5Rows)
    val chg = L5Slice.localChanges(spark, L5Slice.changeFile(dir, L5Slice.changes))
    // error tolerance 1.0: 5 new rows pass against 3 old rows, so the gate
    // read both observed counts
    val stats = Loader.level5Apply(spark, sink, Seq(inc), chg, L5Slice.Table,
      L5Slice.Key, L5Slice.L5Version, uniqueCols = Seq("lin_id"),
      tolError = Some(1.0))
    assert((stats.ninsert, stats.nupdate, stats.nnullupdate, stats.ndelete)
      == (3L, 2L, 0L, 1L))
    assert(!stats.aborted)
    assert(sink.read().orderBy(L5Slice.Key).collect().map(_.getInt(4)).toSeq
      == L5Slice.finalKeys)
  }
}
