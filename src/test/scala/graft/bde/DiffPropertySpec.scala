package graft.bde

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.SparkSuite

/**
 * The property SURVEY §5 calls the diff engine's strongest check:
 * `apply(diff(a, b), a) == b` — for ARBITRARY table pairs, applying the
 * classified difference of two snapshots to the first must reproduce the
 * second exactly, and the difference must mention only keys that really
 * changed. Randomized tables exercise the null-safe compare (null vs
 * value, null vs null), inserts, deletes, updates, and no-ops in every
 * combination a generator finds — the hand-written fixtures cannot
 * enumerate those.
 */
class DiffPropertySpec extends SparkSuite {
  import spark.implicits._

  private type Tbl = Map[Long, (Option[Int], String)]

  private val genTable: Gen[Tbl] = for {
    keys <- Gen.someOf(1L to 24L)
    rows <- Gen.sequence[List[(Long, (Option[Int], String))], (Long, (Option[Int], String))](
      keys.toList.map { k =>
        for {
          a <- Gen.option(Gen.choose(0, 3))
          b <- Gen.oneOf("x", "y", "z")
        } yield k -> (a, b)
      })
  } yield rows.toMap

  /** Mutate `base` into a related snapshot: drop / keep / modify / add. */
  private val genPair: Gen[(Tbl, Tbl)] = for {
    base <- genTable
    kept <- Gen.someOf(base.keys.toList)
    mods <- Gen.sequence[List[(Long, (Option[Int], String))], (Long, (Option[Int], String))](
      kept.toList.map { k =>
        for {
          modify <- Gen.prob(0.5)
          a <- Gen.option(Gen.choose(0, 3))
          b <- Gen.oneOf("x", "y", "z")
        } yield k -> (if (modify) (a, b) else base(k))
      })
    added <- genTable.map(_.view.filterKeys(k => !base.contains(k)).toMap)
  } yield (base, mods.toMap ++ added)

  private def df(t: Tbl): DataFrame =
    t.toSeq.map { case (k, (a, b)) => (k, a.map(Integer.valueOf).orNull, b) }
      .toDF("k", "a", "b")

  private def materialize(d: DataFrame): Tbl =
    d.collect().map { r =>
      r.getLong(0) -> (
        (if (r.isNullAt(1)) None else Some(r.getInt(1))), r.getString(2))
    }.toMap

  private def run(prop: Prop, cases: Int = 25): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  test("fullDiff round-trip: apply(diff(a, b), a) == b, minimally") {
    run(Prop.forAllNoShrink(genPair) { case (cur, next) =>
      val (curDf, nextDf) = (df(cur), df(next))
      val actions = Diff.fullDiff(curDf, nextDf, "k")
      val acts = actions.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val applied = materialize(Diff.applyActions(curDf, nextDf, actions, "k"))
      val unchanged = cur.keySet.intersect(next.keySet)
        .filter(k => cur(k) == next(k))
      (applied == next) :| s"apply mismatch: $applied vs $next" &&
        (acts.keySet.intersect(unchanged).isEmpty) :|
          s"diff mentioned unchanged keys: $acts" &&
        (acts.filter(_._2 == "I").keySet == next.keySet.diff(cur.keySet)) :|
          "inserts are exactly the right-only keys" &&
        (acts.filter(_._2 == "D").keySet == cur.keySet.diff(next.keySet)) :|
          "deletes are exactly the left-only keys"
    })
  }

  test("classifyChanges: full change set reproduces b; empty set is a no-op") {
    run(Prop.forAllNoShrink(genPair) { case (cur, next) =>
      val (curDf, nextDf) = (df(cur), df(next))
      val allKeys = (cur.keySet ++ next.keySet).toSeq.toDF("k")
      val full = Diff.classifyChanges(curDf, nextDf, allKeys, "k")
      val appliedFull = materialize(Diff.applyActions(curDf, nextDf, full, "k"))
      val none = Diff.classifyChanges(curDf, nextDf,
        Seq.empty[Long].toDF("k"), "k")
      val appliedNone = materialize(Diff.applyActions(curDf, nextDf, none, "k"))
      (appliedFull == next) :| s"full change set must land on b: $appliedFull" &&
        (appliedNone == cur) :| s"empty change set must be a no-op: $appliedNone"
    })
  }

  // ---- level-5 loader vs the reference composition ----------------------

  private type URow = (Option[String], String) // (unique code, value)

  /** Rows for `keys` whose unique codes come from a pool of 6, each used
    * at most once, or NULL (any number of NULLs, as a unique constraint
    * allows). The small pool makes codes collide across the current table
    * and the increment: swapped and orphaned unique values. */
  private def genURows(keys: Seq[Long]): Gen[Map[Long, URow]] = for {
    order <- Gen.listOfN(6, Gen.choose(0, 1 << 20))
    nulls <- Gen.listOfN(keys.size, Gen.prob(0.25))
    vals <- Gen.listOfN(keys.size, Gen.oneOf("x", "y", "z"))
  } yield {
    val codes = (1 to 6).map(i => s"c$i").zip(order).sortBy(_._2).map(_._1)
    keys.zipWithIndex.map { case (k, i) =>
      k -> ((if (i >= codes.size || nulls(i)) None else Some(codes(i))), vals(i))
    }.toMap
  }

  /** (cur, increment, change keys): keys 1..8 may be current, 5..12 may be
    * in the increment, 13..14 are in neither; the change list repeats keys
    * and may be empty. */
  private val genLevel5: Gen[(Map[Long, URow], Map[Long, URow], List[Long])] = for {
    curKeys <- Gen.someOf(1L to 8L)
    incKeys <- Gen.someOf(5L to 12L)
    cur <- genURows(curKeys.toSeq)
    inc <- genURows(incKeys.toSeq)
    chg <- Gen.frequency(1 -> Gen.const(Nil), 6 -> Gen.listOf(Gen.choose(1L, 14L)))
  } yield (cur, inc, chg)

  private def urowsDf(t: Map[Long, URow]): DataFrame =
    t.toSeq.map { case (k, (u, v)) => (k, u.orNull, v) }.toDF("k", "u", "v")

  private def materializeU(d: DataFrame): Map[Long, URow] =
    d.collect().map(r => r.getLong(0) -> (Option(r.getString(1)), r.getString(2))).toMap

  test("level5Apply matches classifyChanges(repairKeySwaps = true) + applyActions") {
    val cols = Seq("k" -> "bigint", "u" -> "varchar", "v" -> "varchar")
    val changeCols = Seq("id" -> "integer", "tablename" -> "varchar",
      "tablekeyvalue" -> "bigint", "action" -> "char")
    run(Prop.forAllNoShrink(genLevel5) { case (cur, inc, chg) =>
      val dir = Files.createTempDirectory("l5-prop")
      val sink = new ParquetTableSink(spark, dir.resolve("tables").toString, "t_prop")
      sink.replace(urowsDf(cur), "1")
      val incFile = dir.resolve("inc.crs")
      Files.writeString(incFile, OrchestratorScenario.crs("t_prop", cols,
        inc.toSeq.map { case (k, (u, v)) => s"$k|${u.getOrElse("")}|$v|" }))
      // a row for another table must be filtered out
      val chgFile = dir.resolve("chg.crs")
      Files.writeString(chgFile, OrchestratorScenario.crs("xchg", changeCols,
        "1|t_other|3|U|" +:
          chg.zipWithIndex.map { case (k, i) => s"${i + 2}|T_PROP|$k|U|" }))

      val curDf = sink.read()
      val incDf = BdeFormat.readFile(spark, incFile.toString)
      val refActions = Diff.classifyChanges(curDf, incDf, chg.toDF("k"), "k",
        uniqueCols = Seq("u"), repairKeySwaps = true)
      val refCounts = refActions.collect().groupMapReduce(_.getString(1))(_ => 1L)(_ + _)
      def n(a: String) = refCounts.getOrElse(a, 0L)
      val refRows = materializeU(Diff.applyActions(curDf, incDf, refActions, "k"))

      val s = Loader.level5Apply(spark, sink, Seq(incFile.toString),
        L5Slice.localChanges(spark, chgFile.toString),
        "t_prop", "k", "2", uniqueCols = Seq("u"), maxFileErrors = Some(0))
      val loaded = materializeU(sink.read())
      val stats = (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete)
      val refStats = (n("I"), n("U") + n("X"), n("0"), n("D"))
      (loaded == refRows) :| s"rows: $loaded vs $refRows (cur $cur, inc $inc, chg $chg)" &&
        (stats == refStats) :| s"stats: $stats vs $refStats (cur $cur, inc $inc, chg $chg)" &&
        (!s.aborted) :| "no tolerance set: never aborts"
    })
  }

  // ---- level-5 chains on a ParquetTableSink vs full rewrites ------------

  private type Rows = Seq[(Long, URow)]

  /** One level-5 step: increment rows and change keys. Keys 1..12 may be
    * in the increment and 1..14 changed, in every step, so later steps
    * re-insert deleted keys, delete and update keys an earlier delta added,
    * and swap unique codes with rows of earlier steps. A quarter of the
    * steps repeat up to two increment keys with another value. */
  private val genStep: Gen[(Rows, List[Long])] = for {
    incKeys <- Gen.someOf(1L to 12L)
    inc <- genURows(incKeys.toSeq)
    dups <- Gen.frequency(3 -> Gen.const(Nil), 1 -> Gen.someOf(inc.toSeq).map(
      _.take(2).map { case (k, (u, v)) => k -> ((u, v + "2")) }))
    chg <- Gen.listOf(Gen.choose(1L, 14L))
  } yield (inc.toSeq ++ dups, chg)

  private val genChain: Gen[(Map[Long, URow], List[(Rows, List[Long])])] = for {
    curKeys <- Gen.someOf(1L to 8L)
    cur <- genURows(curKeys.toSeq)
    steps <- Gen.listOfN(10, genStep)
  } yield (cur, steps)

  private def rowsDf(t: Rows): DataFrame =
    t.map { case (k, (u, v)) => (k, u.orNull, v) }.toDF("k", "u", "v")

  private def sortedRows(d: DataFrame): Seq[(Long, Option[String], String)] =
    d.collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
      .toSeq.sorted

  test("level5Apply chains of deltas match full rewrites after every step, across compaction") {
    val cols = Seq("k" -> "bigint", "u" -> "varchar", "v" -> "varchar")
    val changeCols = Seq("id" -> "integer", "tablename" -> "varchar",
      "tablekeyvalue" -> "bigint", "action" -> "char")
    val caseNo = new java.util.concurrent.atomic.AtomicInteger
    // per chain, the number of deltas the published version reads after each step
    val depths = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]
    run(Prop.forAllNoShrink(genChain) { case (cur, steps) =>
      val dir = Files.createTempDirectory("l5-chain-prop")
      val tableDir = dir.resolve("tables/t_prop")
      val sink = new ParquetTableSink(spark, dir.resolve("tables").toString, "t_prop")
      // every other chain pads its base with 5000 rows of incompressible
      // values that no step touches, so that its deltas stay under a quarter
      // of the base's bytes and the chain compacts by the delta count; the
      // bare base compacts by bytes
      def uuid(s: String) = java.util.UUID.nameUUIDFromBytes(s.getBytes).toString
      val padding: Rows =
        if (caseNo.getAndIncrement() % 2 == 1) Nil
        else (0 until 5000).map(i => (1000L + i, (None, uuid(s"a$i") + uuid(s"b$i"))))
      var ref: Rows = cur.toSeq ++ padding
      sink.replace(rowsDf(ref), "0")
      val chainDepths = Seq.newBuilder[Int]
      val props = steps.zipWithIndex.map { case ((inc, chg), i) =>
        val incFile = dir.resolve(s"inc$i.crs")
        Files.writeString(incFile, OrchestratorScenario.crs("t_prop", cols,
          inc.map { case (k, (u, v)) => s"$k|${u.getOrElse("")}|$v|" }))
        val chgFile = dir.resolve(s"chg$i.crs")
        Files.writeString(chgFile, OrchestratorScenario.crs("xchg", changeCols,
          "1|t_other|3|U|" +:
            chg.zipWithIndex.map { case (k, j) => s"${j + 2}|T_PROP|$k|U|" }))

        // today's full rewrite of the reference table
        val refDf = rowsDf(ref)
        val incDf = BdeFormat.readFile(spark, incFile.toString)
        val refActions = Diff.classifyChanges(refDf, incDf, chg.toDF("k"), "k",
          uniqueCols = Seq("u"), repairKeySwaps = true)
        val refCounts = refActions.collect().groupMapReduce(_.getString(1))(_ => 1L)(_ + _)
        def n(a: String) = refCounts.getOrElse(a, 0L)
        val refNext = sortedRows(Diff.applyActions(refDf, incDf, refActions, "k"))
        // the gate's counts, as a warning tolerance no count meets reports them
        val refGate =
          if (chg.isEmpty || ref.isEmpty) Nil
          else Seq(s"table count ${refNext.size} below warning tolerance of old count ${ref.size}")

        val s = Loader.level5Apply(spark, sink, Seq(incFile.toString),
          L5Slice.localChanges(spark, chgFile.toString),
          "t_prop", "k", (i + 1).toString, uniqueCols = Seq("u"),
          tolWarning = Some(1e9), maxFileErrors = Some(0))
        val loaded = sortedRows(sink.read())
        ref = refNext.map { case (k, u, v) => (k, (u, v)) }
        chainDepths += sink.currentVersion.map(v => tableDir.resolve(s"$v/_CHAIN"))
          .filter(Files.exists(_))
          .fold(0)(m => Files.readAllLines(m).asScala.count(_.startsWith("delta ")))
        val stats = (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete)
        val refStats = (n("I"), n("U") + n("X"), n("0"), n("D"))
        val where = s"step ${i + 1} (cur $cur, steps $steps)"
        (loaded == refNext) :| s"rows at $where: $loaded vs $refNext" &&
          (stats == refStats) :| s"stats at $where: $stats vs $refStats" &&
          (s.warnings == refGate) :| s"gate counts at $where: ${s.warnings} vs $refGate" &&
          (!s.aborted) :| "no error tolerance set: never aborts"
      }
      depths.add(chainDepths.result())
      props.reduce(_ && _)
    }, cases = 4)
    // the chains reached the delta-count limit, and compacted past it
    val seen = depths.asScala.toSeq
    assert(seen.exists(_.contains(ParquetTableSink.MaxDeltas)), s"chain depths: $seen")
    assert(seen.exists(_.sliding(2).exists(d => d.head == ParquetTableSink.MaxDeltas && d.last == 0)),
      s"no compaction at the delta-count limit: $seen")
    assert(seen.exists(_.sliding(2).exists(d => d.head > 0 && d.head < ParquetTableSink.MaxDeltas &&
      d.last == 0)), s"no compaction by bytes: $seen")
  }
}
