package graft.bde

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The diff/merge engine — the semantic heart of incremental (level-5) and
 * full-incremental (level-0 diff) loads.
 *
 * Semantics follow the reference's set-based operators
 * (`/root/reference/sql/02-bde_control_functions.sql.in`):
 *
 *  - `_bde_CreateIncDeletes`  (:2228-2262)  change-keys present in the
 *    current table but absent from the incoming data → action 'D'
 *  - `_bde_CreateIncInserts`  (:2264-2298)  change-keys present in the
 *    incoming data but absent from the current table → action 'I'
 *  - `_bde_CreateIncUpdates`  (:2300-2373)  change-keys present in both:
 *    all columns null-safe-equal → '0' (null update); a unique-constraint
 *    column changed → 'X' (delete+insert, protects uniqueness, :2335-2357);
 *    otherwise → 'U'
 *  - `_bde_FixChangedIncKeyRecords` (:2146-2226)  key-swap repair: current
 *    rows whose unique column matches an incoming row under a DIFFERENT key
 *    are stale and must join the change set (their key gets deleted or
 *    re-pointed), else the unique constraint would break on apply
 *  - `ver_apply_table_differences` (:1914-1948, external table_version ext)
 *    full-outer diff of two snapshots — re-expressed as [[fullDiff]]
 *
 * Physical shape (the 100 TB design): the change set is small (a daily
 * increment's keys), so it is ALWAYS the broadcast build side. The two big
 * inputs — the current table and the incoming data — are each reduced to
 * their change-affected slice with ONE broadcast left-semi join apiece
 * (stream side = big scan, build side = broadcast keys ⇒ a pure map-side
 * probe, no shuffle of either big table). Classification then runs as a
 * full-outer join between those two change-set-sized slices, shuffling at
 * most 2·|chg| rows. Earlier designs that put the broadcast hint on the
 * stream side of a semi join are silently unsupported by Spark (the hint is
 * dropped with a HintErrorLogger warning and the big table shuffles); this
 * formulation is hint-correct by construction.
 *
 * Which sets reach the driver: none, inside this object — every function
 * returns a lazy frame. The level-5 loader ([[Loader.level5Apply]])
 * collects the three change-set-sized ones: the table's change keys, the
 * repaired keys of [[fixChangedKeys]] and the (key, action) pairs of
 * [[classifyChanges]]. Each is bounded by the day's delta, as the
 * reference's `_tmp_inc_change`/`_tmp_inc_actions` temp tables are, and
 * passed back in as a driver-local relation it broadcasts straight from
 * the driver. The current table, the increment rows and the full-snapshot
 * diff of [[fullDiff]] (as large as the table) stay distributed.
 *
 * What an apply writes: an action set comes down to one step of
 * [[merge]], the increment rows it adds and the keys whose current rows
 * it removes ([[changes]]), both sized by the change set. The level-0 diff
 * and a sink without deltas stage the merged table in full. A level-5 load
 * on a [[ParquetTableSink]] stores just the step as a delta, and the
 * sink's read folds the base and every delta through the same [[merge]],
 * so a version reads the same either way.
 */
object Diff {

  val ActionInsert = "I"
  val ActionUpdate = "U"
  val ActionNullUpdate = "0"
  val ActionUniqueShift = "X"
  val ActionDelete = "D"

  /** Null-safe "all these columns are equal between l and r". */
  private def allEqual(l: String, r: String, cols: Seq[String]): Column =
    cols.map(c => col(s"$l.$c") <=> col(s"$r.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))

  /** Null-safe "any of these columns differ between l and r". */
  private def anyDiffer(l: String, r: String, cols: Seq[String]): Column =
    cols.map(c => !(col(s"$l.$c") <=> col(s"$r.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))

  /**
   * J5 — key-swap repair (`_bde_FixChangedIncKeyRecords`, sql:2146-2226).
   *
   * For each secondary unique column: find CURRENT rows whose unique value
   * matches an INCOMING row (for a key in the change set) but whose key
   * differs. Those current keys are stale — primary keys were swapped or
   * reassigned upstream — and are added to the change set so the classifier
   * deletes/re-points them.
   *
   * Plan: `inc ⋉ broadcast(chg)` is change-set sized; that slice is then the
   * BROADCAST side of an inner join streamed over `cur` (inner joins can
   * build either side, so the big table never shuffles).
   *
   * Returns the augmented change-key set (distinct single `key` column).
   */
  def fixChangedKeys(
      cur: DataFrame,
      inc: DataFrame,
      changeKeys: DataFrame,
      key: String,
      uniqueCols: Seq[String]): DataFrame = {
    // duplicate keys need no distinct here: the change set only builds a
    // semi join, and the result is made distinct once, at the end
    val chg = changeKeys.select(col(key))
    // incoming rows that are in the change set — change-set sized
    val incChg = inc.join(broadcast(chg), Seq(key), "left_semi")
    val stale = uniqueCols.map { u =>
      cur.as("t")
        .join(broadcast(incChg.as("i")),
          // PLAIN equality, not null-safe: the reference template joins
          // `NEW_DAT.col = CUR.col` (sql:2182-2190), and multiple NULLs are
          // legal under a unique constraint — a null-safe match here would
          // mark every other NULL-valued row stale and DELETE it
          col(s"i.$u") === col(s"t.$u") && col(s"i.$key") =!= col(s"t.$key"))
        .select(col(s"t.$key").as(key))
    }
    stale.foldLeft(chg)((acc, s) => acc.unionByName(s)).distinct()
  }

  /**
   * J1+J2+J3 — classify a change set against current and incoming data.
   *
   * @param cur        current table contents
   * @param inc        incoming (working-copy) data for this increment
   * @param changeKeys change table keys for this table (one `key` column;
   *                   dupes tolerated — the keys only build semi joins)
   * @param key        the table key column (int/bigint in the reference)
   * @param uniqueCols secondary unique-constraint columns (for 'X' actions
   *                   and key-swap repair)
   * @param repairKeySwaps run the J5 repair before classifying (the
   *                   reference always does for L5; fullDiff does not need
   *                   it, and callers whose "unique" columns are not truly
   *                   unique must disable it)
   * @return DataFrame(key, action) with action ∈ I/U/0/X/D
   */
  def classifyChanges(
      cur: DataFrame,
      inc: DataFrame,
      changeKeys: DataFrame,
      key: String,
      uniqueCols: Seq[String] = Nil,
      repairKeySwaps: Boolean = true): DataFrame = {
    val compareCols = inc.columns.filter(_ != key).toSeq
    val chg0 = changeKeys.select(col(key))
    val chg  = if (repairKeySwaps && uniqueCols.nonEmpty)
                 fixChangedKeys(cur, inc, chg0, key, uniqueCols)
               else chg0

    // Reduce each big input to its change-affected slice: ONE broadcast
    // semi-join each, stream side = the big scan. Both slices are ≤ |chg|.
    val curHit = cur.join(broadcast(chg), Seq(key), "left_semi").as("cur")
    val incHit = inc.join(broadcast(chg), Seq(key), "left_semi").as("inc")

    // One tiny full-outer join classifies everything (sql:2228-2373):
    //   cur-only → 'D', inc-only → 'I', both → compare → '0'/'X'/'U'.
    curHit
      .join(incHit, col(s"cur.$key") === col(s"inc.$key"), "full_outer")
      .select(
        coalesce(col(s"cur.$key"), col(s"inc.$key")).as(key),
        when(col(s"inc.$key").isNull, ActionDelete)
          .when(col(s"cur.$key").isNull, ActionInsert)
          .when(allEqual("cur", "inc", compareCols), ActionNullUpdate)
          .when(anyDiffer("cur", "inc", uniqueCols), ActionUniqueShift)
          .otherwise(ActionUpdate)
          .as("action"))
  }

  /**
   * J4 — full-table diff of two snapshots (`ver_apply_table_differences`,
   * sql:1914-1948): full outer join on the key; right-only → 'I',
   * left-only → 'D', both with any column changed → 'U'. Unchanged rows are
   * NOT emitted (the reference's differ only returns real changes).
   */
  def fullDiff(cur: DataFrame, next: DataFrame, key: String): DataFrame = {
    val compareCols = next.columns.filter(_ != key).toSeq
    val l = cur.as("l")
    val r = next.as("r")
    l.join(r, col(s"l.$key") === col(s"r.$key"), "full_outer")
      .select(
        coalesce(col(s"l.$key"), col(s"r.$key")).as(key),
        when(col(s"l.$key").isNull, ActionInsert)
          .when(col(s"r.$key").isNull, ActionDelete)
          .when(anyDiffer("l", "r", compareCols), ActionUpdate)
          .as("action"))
      .where(col("action").isNotNull)
  }

  /**
   * What a classified action set changes (`_ver_apply_changes`,
   * sql:1762-1765): the incoming rows of the inserted, updated and
   * key-shifted keys, and the deleted, updated and key-shifted keys, whose
   * current rows go. ('0' null-updates change nothing; 'X' behaves as
   * delete+insert, which for a keyed merge is the same as replace.) Both are
   * sized by the change set; the added rows are `inc` reduced by a
   * broadcast semi join on the RIGHT, so the increment streams.
   */
  def changes(inc: DataFrame, actions: DataFrame, key: String): (DataFrame, DataFrame) = {
    // The action set feeds TWO key derivations here, so an `actions`
    // lineage that runs the classify pipeline (itself two scans of the big
    // tables) must be materialized first: the level-5 loader passes its
    // collected pairs as a driver-local relation, the level-0 diff a cached
    // frame (caching here instead would leak: this function returns lazy
    // frames and never sees the consuming action).
    val acts = actions.select(col(key), col("action"))
    def keysOf(as: String*) = acts.where(col("action").isin(as: _*)).select(col(key))
    val added = inc.join(
      broadcast(keysOf(ActionInsert, ActionUpdate, ActionUniqueShift)), Seq(key), "left_semi")
    (added, keysOf(ActionDelete, ActionUpdate, ActionUniqueShift))
  }

  /**
   * Apply change sets to `base` in order, each an (added rows, removed keys)
   * pair as [[changes]] returns it: a step removes every row, of the base or
   * of an earlier step, whose key it names, then adds its rows. This is the
   * one merge of the engine: [[applyActions]] is one step of it, and a
   * [[ParquetTableSink]] delta version is read as its base plus every
   * delta's step.
   *
   * Each step's removed keys are sized by its change set, so they are the
   * broadcast build side of an anti join (on the RIGHT; the rows stream).
   * Spark pushes the anti joins down to every layer and reuses each step's
   * broadcast, so a chain of n steps costs n small broadcasts per query.
   */
  def merge(base: DataFrame, steps: Seq[(DataFrame, DataFrame)], key: String): DataFrame = {
    // using-column joins move the key to the front; restore the base's order
    val order = base.columns.map(col).toIndexedSeq
    steps.foldLeft(base) { case (rows, (added, removedKeys)) =>
      rows.join(broadcast(removedKeys), Seq(key), "left_anti").select(order: _*)
        .unionByName(added.select(order: _*))
    }
  }

  /**
   * Apply a classified action set: keep current rows not deleted/updated,
   * then add the incoming version of inserted/updated/key-shifted rows —
   * one step of [[merge]] built by [[changes]].
   */
  def applyActions(
      cur: DataFrame,
      inc: DataFrame,
      actions: DataFrame,
      key: String): DataFrame =
    merge(cur, Seq(changes(inc, actions, key)), key)

  /**
   * A1 — per-action counts (`_ver_apply_changes` returns nins/ndel/nupd;
   * null updates counted separately at sql:1757). One tiny aggregate.
   */
  def countByAction(actions: DataFrame): DataFrame =
    actions.groupBy("action").agg(count(lit(1)).as("n")).orderBy("action")
}
