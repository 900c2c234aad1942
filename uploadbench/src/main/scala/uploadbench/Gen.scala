package uploadbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/**
 * Deterministic BDE repository generator and the model of what loading it
 * must produce.
 *
 * Every table has the same shape: an integer key `id`, a secondary unique
 * column `code` (declared `unique=` so key swaps exercise the repair path),
 * text with non-ASCII, typographic and control characters, an integer, a
 * datetime that is sometimes before 1800, and a nullable note. The model is
 * an independent restatement of the uploader's rules: the default cleanser
 * (control characters stripped, typographic punctuation mapped, datetimes
 * before 1800 set to the sentinel), empty field = NULL, and the level-5 /
 * level-0-diff classification, computed over plain maps.
 */
object Gen {

  /** Raw field values of one row, as written to the file (null = empty). */
  final case class Raw(id: Int, code: String, name: String, amount: Int,
      created: java.time.LocalDateTime, note: String) {
    def line: String = {
      val sb = new java.lang.StringBuilder(96)
      def text(s: String) = { if (s != null) sb.append(s); sb.append('|') }
      def pad(n: Int, w: Int) = {
        val d = n.toString
        for (_ <- d.length until w) sb.append('0')
        sb.append(d)
      }
      sb.append(id).append('|')
      text(code)
      text(name)
      sb.append(amount).append('|')
      val t = created
      pad(t.getYear, 4); sb.append('-'); pad(t.getMonthValue, 2); sb.append('-')
      pad(t.getDayOfMonth, 2); sb.append(' '); pad(t.getHour, 2); sb.append(':')
      pad(t.getMinute, 2); sb.append(':'); pad(t.getSecond, 2); sb.append('|')
      text(note)
      sb.toString
    }
  }

  /** The value the published table must hold for a raw row. */
  final case class Clean(id: Int, code: String, name: String, amount: Int,
      created: java.time.LocalDateTime, note: String)

  val Columns: Seq[(String, String)] = Seq(
    "id" -> "integer", "code" -> "varchar", "name" -> "varchar",
    "amount" -> "integer", "created" -> "datetime", "note" -> "varchar")
  val ChangeColumns: Seq[(String, String)] = Seq("id" -> "integer",
    "tablename" -> "varchar", "tablekeyvalue" -> "integer", "action" -> "char")
  val ChangeTable = "l5_change_table"
  /** `max_file_errors` budget the runs use; each generated file holds at
    * most [[MalformedPerFile]] malformed lines. */
  val MaxFileErrors = 10L
  val MalformedPerFile = 3

  val Sentinel: java.time.LocalDateTime = java.time.LocalDateTime.of(1800, 1, 1, 0, 0)

  // the default cleanser: C0 controls except tab/LF/CR are deleted, then
  // the typographic punctuation map applies
  private val replace = Map('–' -> '-', '—' -> '-', '‘' -> '\'', '’' -> '\'',
    '“' -> '"', '”' -> '"', '×' -> 'x')
  private def cleanText(s: String): String =
    if (s == null || s.isEmpty) null
    else {
      val sb = new java.lang.StringBuilder(s.length)
      s.foreach { c =>
        if (!(c <= 0x08 || c == 0x0B || c == 0x0C || (c >= 0x0E && c <= 0x1F)))
          sb.append(replace.getOrElse(c, c))
      }
      sb.toString
    }

  def clean(r: Raw): Clean =
    Clean(r.id, cleanText(r.code), cleanText(r.name), r.amount,
      if (r.created.getYear < 1800) Sentinel else r.created, cleanText(r.note))

  /** Per (dataset, table) action counts as the control stats record them:
    * key swaps (X) are counted as updates. */
  final case class Counts(ins: Long, upd: Long, nul: Long, del: Long)

  /** One table of a workload: name and level-0 row count. */
  final case class TableSpec(name: String, rows: Int)

  /** Sizes and shape of a workload's repository. */
  final case class Spec(
      tables: Seq[TableSpec],
      /** level-5 increments after the level-0 base */
      increments: Int = 0,
      /** share of a table's keys each increment changes */
      churn: Double = 0.0,
      /** when true, a second level-0 snapshot with `snapshotChurn` of the
        * rows changed follows the base */
      secondSnapshot: Boolean = false,
      snapshotChurn: Double = 0.0)

  final case class Dataset(level: String, name: String, dir: Path,
      files: Seq[Path])

  /** A generated repository and its model. */
  final case class Repo(
      root: Path,
      repoRoot: Path,
      tablesConf: Path,
      datasets: Seq[Dataset],
      /** expected stats per (dataset, table) */
      expected: Map[(String, String), Counts],
      /** expected final table contents after every dataset is applied,
        * in key order */
      finalTables: Map[String, Vector[Clean]],
      /** expected table contents after the base (first) dataset only */
      baseTables: Map[String, Vector[Clean]],
      tables: Seq[String]) {
    def level0: Seq[Dataset] = datasets.filter(_.level == "0")
    def level5: Seq[Dataset] = datasets.filter(_.level == "5")
    def dataRows(ds: Dataset): Long = ds.files.map(countDataRows).sum
    def bytes(ds: Dataset): Long = ds.files.map(Files.size).sum
  }

  private def countDataRows(p: Path): Long = {
    val it = Files.lines(p, StandardCharsets.UTF_8)
    try {
      var inData = false
      var n = 0L
      it.forEach { l =>
        if (inData) { if (l.nonEmpty) n += 1 }
        else if (l.startsWith("{CRS-DATA}")) inData = true
      }
      n
    } finally it.close()
  }

  private val words = Vector("Whakatāne", "Ōtautahi", "Kōwhai", "Pāuatahanui",
    "Tāmaki", "Māhia", "road", "street", "parcel", "lot", "section", "deposited",
    "plan", "Wellington", "Ōhope", "Rēkohu", "café", "survey", "mark", "block",
    "district", "Te", "Awa", "Ngāmotu", "Hūtia", "Straße", "Ærø", "ridge")
  private val punct = Vector("–", "—", "‘", "’", "“", "”", "×")
  private val controls = Vector("\u0001", "\u0007", "\u000B", "\u001F")

  /** Deterministic content source for one (seed, stream). */
  private final class Src(seed: Long, stream: String) {
    val rnd = new scala.util.Random(seed * 1000003L ^ stream.hashCode.toLong)
    def text(maxWords: Int): String = {
      val n = 1 + rnd.nextInt(maxWords)
      val sb = new StringBuilder
      for (i <- 0 until n) {
        if (i > 0) sb.append(' ')
        sb.append(words(rnd.nextInt(words.size)))
        val r = rnd.nextInt(100)
        if (r < 6) sb.append(punct(rnd.nextInt(punct.size)))
        else if (r < 9) sb.append(controls(rnd.nextInt(controls.size)))
      }
      sb.toString
    }
    def created(): java.time.LocalDateTime = {
      val year = if (rnd.nextInt(100) < 4) 1700 + rnd.nextInt(100) else 1800 + rnd.nextInt(225)
      java.time.LocalDateTime.of(year, 1 + rnd.nextInt(12), 1 + rnd.nextInt(28),
        rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60))
    }
    def note(): String = if (rnd.nextInt(100) < 30) null else text(3)
    def row(id: Int, code: String): Raw =
      Raw(id, code, text(4), rnd.nextInt(1000000), created(), note())
  }

  private def code(table: Int, serial: Int): String = f"C$table%02d-$serial%08d"

  /** The dataset name of the n-th day after the base (n = 0 is the base). */
  private def datasetName(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE) + "000000"
  private def datasetTime(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString + " 00:00:00"

  private def writeCrs(p: Path, table: String, cols: Seq[(String, String)],
      start: String, end: String, lines: Iterator[String], size: Int): Unit = {
    Files.createDirectories(p.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(p), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(s"HEDR\t2.0.0\nSOFTWARE\tuploadbench V1\nSCHEMA\tV1.0\nUSER\tbench\n")
      w.write(s"START\t$start\nEND\t$end\nSQL\tSELECT * FROM $table\nTABLE\t$table\n")
      cols.foreach { case (n, t) => w.write(s"COLUMN\t$n $t NULL\n") }
      w.write(s"DESC\nSIZE\t$size\n{CRS-DATA}\n")
      lines.foreach { l => w.write(l); w.write('\n') }
    } finally w.close()
  }

  /** Lines with too few fields; the loader drops them within the budget. */
  private def malformed(src: Src, n: Int): Seq[String] =
    (0 until n).map(_ => s"${src.rnd.nextInt(1000000)}|broken|")

  /** Mix `extra` lines into `lines` at seeded positions. */
  private def sprinkle(src: Src, lines: Vector[String], extra: Seq[String]): Vector[String] = {
    val out = mutable.ArrayBuffer.from(lines)
    extra.foreach(e => out.insert(src.rnd.nextInt(out.size + 1), e))
    out.toVector
  }

  /**
   * Write the repository for `spec` under `root` (which must not exist or be
   * empty) and return it with its model. The same (spec, seed) always
   * writes byte-identical files.
   */
  def generate(root: Path, spec: Spec, seed: Long): Repo = {
    Files.createDirectories(root)
    val repoRoot = root.resolve("repo")
    val names = spec.tables.map(_.name)
    val conf = root.resolve("tables.conf")
    Files.writeString(conf,
      (s"TABLE $ChangeTable files $ChangeTable" +:
        names.map(n => s"TABLE $n key=id unique=code row_tol=0.5,0.9 files $n"))
        .mkString("", "\n", "\n"), StandardCharsets.UTF_8)

    val expected = mutable.LinkedHashMap[(String, String), Counts]()
    val datasets = mutable.ArrayBuffer[Dataset]()
    // raw state per table, key-ordered
    val state = mutable.LinkedHashMap[String, mutable.TreeMap[Int, Raw]]()
    val nextId = mutable.Map[String, Int]()
    val nextCode = mutable.Map[String, Int]()

    // ---- level-0 base ------------------------------------------------------
    val base = datasetName(0)
    val baseDir = repoRoot.resolve("level_0").resolve(base)
    val baseFiles = spec.tables.zipWithIndex.map { case (t, ti) =>
      val src = new Src(seed, s"${t.name}/base")
      val rows = mutable.TreeMap[Int, Raw]()
      // ids are sparse so inserts land between existing keys
      for (i <- 0 until t.rows) {
        val id = 1 + i * 3 + src.rnd.nextInt(3)
        rows(id) = src.row(id, code(ti, i))
      }
      state(t.name) = rows
      nextId(t.name) = 3 * t.rows + 10
      nextCode(t.name) = t.rows
      val p = baseDir.resolve(s"${t.name}.crs")
      val lines = sprinkle(src, rows.valuesIterator.map(_.line).toVector,
        if (ti == 0) malformed(src, MalformedPerFile) else Nil)
      writeCrs(p, t.name, Columns, datasetTime(0), datasetTime(0),
        lines.iterator, lines.size)
      expected((base, t.name)) = Counts(rows.size, 0, 0, 0)
      p
    }
    datasets += Dataset("0", base, baseDir, baseFiles)
    val baseTables = state.map { case (n, rows) =>
      n -> rows.valuesIterator.map(clean).toVector }.toMap

    // ---- level-5 chain -----------------------------------------------------
    for (day <- 1 to spec.increments) {
      val ds = datasetName(day)
      val dir = repoRoot.resolve("level_5").resolve(ds)
      val changeLines = Vector.newBuilder[String]
      var changeId = 0
      def change(table: String, key: Int, action: String): Unit = {
        changeId += 1
        changeLines += s"$changeId|$table|$key|$action|"
      }
      val files = spec.tables.zipWithIndex.map { case (t, ti) =>
        val src = new Src(seed, s"${t.name}/l5/$day")
        val rows = state(t.name)
        val keys = rows.keysIterator.toVector
        val n = math.max(10, math.round(rows.size * spec.churn).toInt)
        val picked = src.rnd.shuffle(keys).take(n)
        // One swapped pair and one orphaned reassignment exercise the key-swap
        // repair. The other keys split by fixed shares: 15% delete, 50%
        // update, 10% null update, the rest insert. No published BDE change
        // statistics exist to set these from; they are assumptions.
        val nSwap = 2
        val nOrphan = 2
        val m = n - nSwap - nOrphan
        val nDel = math.max(1, m * 15 / 100)
        val nUpd = math.max(1, m * 50 / 100)
        val nNul = math.max(1, m * 10 / 100)
        val nIns = m - nDel - nUpd - nNul
        var rest = picked
        def take(k: Int): Vector[Int] = { val (a, b) = rest.splitAt(k); rest = b; a }
        val dels = take(nDel); val upds = take(nUpd); val nuls = take(nNul)
        val swaps = take(nSwap); val orphans = take(nOrphan)
        val incoming = mutable.TreeMap[Int, Raw]()
        val changeKeys = mutable.LinkedHashSet[Int]()
        dels.foreach(k => changeKeys += k)
        upds.foreach { k =>
          val r = rows(k)
          incoming(k) = r.copy(amount = r.amount + 1 + src.rnd.nextInt(1000),
            note = src.note())
          changeKeys += k
        }
        nuls.foreach { k => incoming(k) = rows(k); changeKeys += k }
        swaps.grouped(2).foreach { case Seq(a, b) =>
          incoming(a) = rows(a).copy(code = rows(b).code)
          incoming(b) = rows(b).copy(code = rows(a).code)
          changeKeys += a; changeKeys += b
        }
        // `a` takes the code of `b`, and `b` is missing from the change set:
        // the key-swap repair must find `b` and delete it
        orphans.grouped(2).foreach { case Seq(a, b) =>
          incoming(a) = rows(a).copy(code = rows(b).code, name = src.text(3))
          changeKeys += a
        }
        for (_ <- 0 until nIns) {
          val id = nextId(t.name); nextId(t.name) = id + 1 + src.rnd.nextInt(3)
          val c = nextCode(t.name); nextCode(t.name) = c + 1
          incoming(id) = src.row(id, code(ti, c))
          changeKeys += id
        }
        // change-table actions as the upstream extract would label them
        changeKeys.foreach(k => change(t.name, k,
          if (!rows.contains(k)) "I" else if (!incoming.contains(k)) "D" else "U"))
        expected((ds, t.name)) = applyLevel5(rows, incoming, changeKeys.toSet)
        val p = dir.resolve(s"${t.name}.crs")
        val lines = sprinkle(src, incoming.valuesIterator.map(_.line).toVector,
          if (ti == day % spec.tables.size) malformed(src, 1) else Nil)
        writeCrs(p, t.name, Columns, datasetTime(day - 1), datasetTime(day),
          lines.iterator, lines.size)
        p
      }
      val cl = changeLines.result()
      val cp = dir.resolve(s"$ChangeTable.crs")
      writeCrs(cp, ChangeTable, ChangeColumns, datasetTime(day - 1),
        datasetTime(day), cl.iterator, cl.size)
      datasets += Dataset("5", ds, dir, cp +: files)
    }

    // ---- second level-0 snapshot (diff reload) -----------------------------
    if (spec.secondSnapshot) {
      val day = spec.increments + 31
      val ds = datasetName(day)
      val dir = repoRoot.resolve("level_0").resolve(ds)
      val files = spec.tables.zipWithIndex.map { case (t, ti) =>
        val src = new Src(seed, s"${t.name}/snapshot2")
        val rows = state(t.name)
        val next = mutable.TreeMap.from(rows)
        val n = math.max(10, math.round(rows.size * spec.snapshotChurn).toInt)
        val picked = src.rnd.shuffle(rows.keysIterator.toVector).take(n)
        // a quarter of the picked keys are deleted, the rest updated, and a
        // quarter as many new keys inserted: assumed shares, as for level 5
        val (dels, upds) = picked.splitAt(n / 4)
        dels.foreach(next.remove)
        upds.foreach { k =>
          val r = rows(k)
          next(k) = r.copy(amount = r.amount + 1 + src.rnd.nextInt(1000), name = src.text(4))
        }
        for (_ <- 0 until n / 4) {
          val id = nextId(t.name); nextId(t.name) = id + 1 + src.rnd.nextInt(3)
          val c = nextCode(t.name); nextCode(t.name) = c + 1
          next(id) = src.row(id, code(ti, c))
        }
        expected((ds, t.name)) = diffLevel0(rows, next)
        state(t.name) = next
        val p = dir.resolve(s"${t.name}.crs")
        val lines = sprinkle(src, next.valuesIterator.map(_.line).toVector,
          if (ti == 0) malformed(src, MalformedPerFile) else Nil)
        writeCrs(p, t.name, Columns, datasetTime(day), datasetTime(day),
          lines.iterator, lines.size)
        p
      }
      datasets += Dataset("0", ds, dir, files)
    }

    Repo(root, repoRoot, conf, datasets.toSeq, expected.toMap,
      state.map { case (n, rows) => n -> rows.valuesIterator.map(clean).toVector }.toMap,
      baseTables, names)
  }

  /**
   * The level-5 rules over plain maps: the key-swap repair adds current
   * keys whose `code` an incoming changed row takes over; then each change
   * key is a delete (current only), insert (incoming only), null update
   * (equal after cleaning), key swap (code changed, counted as an update)
   * or update. Mutates `rows` to the new state.
   */
  private def applyLevel5(rows: mutable.TreeMap[Int, Raw],
      incoming: mutable.TreeMap[Int, Raw], changeKeys: Set[Int]): Counts = {
    val cur = rows.view.mapValues(clean).toMap
    val inc = incoming.view.mapValues(clean).toMap
    val byCode = cur.values.filter(_.code != null).map(c => c.code -> c.id).toMap
    val stale = inc.values.filter(r => changeKeys(r.id) && r.code != null)
      .flatMap(r => byCode.get(r.code).filter(_ != r.id))
    val keys = changeKeys ++ stale
    var i, u, z, d = 0L
    for (k <- keys) (cur.get(k), inc.get(k)) match {
      case (Some(_), None) => d += 1; rows.remove(k)
      case (None, Some(_)) => i += 1; rows(k) = incoming(k)
      case (Some(c), Some(n)) =>
        if (c == n) z += 1
        else { u += 1; rows(k) = incoming(k) }
      case (None, None) =>
    }
    Counts(i, u, z, d)
  }

  /** The level-0 diff rules: insert, delete, or update when any cleaned
    * column differs. */
  private def diffLevel0(cur: collection.Map[Int, Raw], next: collection.Map[Int, Raw]): Counts = {
    val i = next.keysIterator.count(k => !cur.contains(k)).toLong
    val d = cur.keysIterator.count(k => !next.contains(k)).toLong
    val u = next.count { case (k, r) => cur.get(k).exists(c => clean(c) != clean(r)) }.toLong
    Counts(i, u, 0, d)
  }
}
