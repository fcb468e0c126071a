package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Incremental view maintenance (IVM) for grouped COUNT/SUM aggregates:
 * keep an aggregate table current by applying a CHANGELOG delta instead
 * of recomputing from the fact table — at 100 TB the difference between
 * touching yesterday's changed rows (GBs) and rescanning the corpus.
 *
 * Completes the CDC arc the reference opens (apply_change_log_to_delta
 * maintains the base TABLE from a changelog — reference
 * src/apply_change_log_to_delta.py:531-660): [[Scd.snapshotDiff]]
 * derives the changelog, [[graft.ChangeLogApplier]] folds it into the
 * snapshot, and this operator folds the SAME changelog into downstream
 * aggregates, the classic delta-propagation rule for distributive
 * aggregates (count/sum deltas add; see Gupta & Mumick, "Maintenance of
 * Materialized Views", IEEE DE Bulletin 1995).
 *
 * Scale shape: the delta is changelog-sized — `U`/`D` keys fetch their
 * OLD rows with one join against the previous snapshot (AQE broadcasts
 * the changelog side when it is small, the common case), both
 * contribution streams union into ONE map-side-combinable aggregate of
 * group-cardinality size, and the merge with the base aggregate is a
 * full-outer join between two group-cardinality tables. The fact table
 * is never rescanned; sums are maintained in caller-chosen integer
 * units so the incremental result is bit-identical to a from-scratch
 * recompute (float sums would drift by addition order).
 */
object Ivm {

  /**
   * Build the base aggregate: one row per `group` with `cnt`, the
   * integer `value` sum, and `nnv` — the count of NON-NULL values. The
   * shapes of this and [[applyCountSumDelta]]'s output are identical by
   * construction, so maintenance composes: build once, apply deltas
   * forever.
   *
   * `nnv` exists because SQL's `sum` over an all-NULL group is NULL,
   * not 0 — a bare (cnt, sum) state cannot tell "all values NULL" from
   * "values summing to zero", so delta maintenance would resurrect such
   * a group's sum as 0 where a from-scratch recompute yields NULL.
   * Carrying the non-null count keeps the bit-identical-to-recompute
   * invariant for nullable value columns.
   */
  def countSumAgg(df: DataFrame, group: Column, value: Column,
                  groupOut: String = "grp", cntOut: String = "cnt",
                  sumOut: String = "sum_units",
                  nnvOut: String = "nnv"): DataFrame =
    df.groupBy(group.as(groupOut))
      .agg(count(lit(1)).as(cntOut), sum(value).as(sumOut),
        count(value).as(nnvOut))

  /**
   * Apply an I/U/D changelog (the [[Scd.snapshotDiff]] contract: key
   * columns, a `change` column, and the NEW side of every tracked
   * column) to a base aggregate built by [[countSumAgg]].
   *
   * `group` and `value` are evaluated against the OLD snapshot for the
   * removed contributions (`U`/`D` keys) and against the changelog's
   * new-side columns for the added ones (`I`/`U`) — so an update that
   * MOVES a row between groups subtracts from the old group and adds to
   * the new one with no special casing. Groups whose count reaches zero
   * are dropped, matching a from-scratch recompute over the new
   * snapshot exactly.
   */
  def applyCountSumDelta(base: DataFrame, oldSnap: DataFrame,
                         changes: DataFrame, keys: Seq[String],
                         group: Column, value: Column,
                         groupOut: String = "grp", cntCol: String = "cnt",
                         sumCol: String = "sum_units",
                         nnvCol: String = "nnv",
                         changeCol: String = "change"): DataFrame = {
    require(keys.nonEmpty, "need changelog key columns")
    require(Seq(groupOut, cntCol, sumCol, nnvCol).forall(base.columns.contains),
      s"base aggregate must carry $groupOut/$cntCol/$sumCol/$nnvCol " +
        "(countSumAgg's shape)")
    val valueNn = value.isNotNull.cast("long")
    // old rows being replaced or deleted: their contribution leaves
    // (a NULL value contributes nothing to the sum on either stream —
    // sum skips NULLs — but its presence/absence is tracked via __dn)
    val removedKeys = changes.filter(col(changeCol).isin("U", "D"))
      .select(keys.map(col): _*)
    val minus = oldSnap.join(removedKeys, keys, "inner")
      .select(group.as(groupOut), lit(-1L).as("__dc"), (-value).as("__ds"),
        (-valueNn).as("__dn"))
    // new-side rows arriving: inserts and the new image of updates
    val plus = changes.filter(col(changeCol).isin("I", "U"))
      .select(group.as(groupOut), lit(1L).as("__dc"), value.as("__ds"),
        valueNn.as("__dn"))
    val delta = minus.unionByName(plus)
      .groupBy(groupOut)
      .agg(sum("__dc").as("__dc"), sum("__ds").as("__ds"),
        sum("__dn").as("__dn"))
    // NULL is a real group to groupBy, so the base/delta merge must be
    // NULL-SAFE on the group key — a USING join's plain equality would
    // leave a NULL group's base and delta rows unmatched (stale base
    // row surviving next to a fresh delta row), breaking the
    // bit-identical-to-recompute contract ([[applyDistinctAuxDelta]]'s
    // discipline)
    val b = base.as("b")
    val d = delta.as("d")
    val nnv2 = coalesce(col(s"b.$nnvCol"), lit(0L)) +
      coalesce(col("d.__dn"), lit(0L))
    b.join(d, col(s"b.$groupOut") <=> col(s"d.$groupOut"), "full_outer")
      .select(coalesce(col(s"b.$groupOut"), col(s"d.$groupOut")).as(groupOut),
        (coalesce(col(s"b.$cntCol"), lit(0L)) + coalesce(col("d.__dc"), lit(0L)))
          .as(cntCol),
        // an all-NULL-value group's sum is NULL, exactly as sum() yields
        when(nnv2 === 0, lit(null))
          .otherwise(coalesce(col(s"b.$sumCol"), lit(0L)) +
            coalesce(col("d.__ds"), lit(0L)))
          .as(sumCol),
        nnv2.as(nnvCol))
      .filter(col(cntCol) > 0)
  }

  /**
   * Build the base MIN/MAX aggregate: one row per `group` with `cnt`
   * and the integer `value` min/max. Shape-identical to
   * [[applyMinMaxDelta]]'s output, so maintenance composes.
   */
  def minMaxAgg(df: DataFrame, group: Column, value: Column,
                groupOut: String = "grp", cntOut: String = "cnt",
                minOut: String = "min_units",
                maxOut: String = "max_units"): DataFrame =
    df.groupBy(group.as(groupOut))
      .agg(count(lit(1)).as(cntOut), min(value).as(minOut),
        max(value).as(maxOut))

  /** The groups [[applyMinMaxDelta]] must re-aggregate from the new
   * snapshot: those where a removed (`U`/`D`) non-null value ties — or,
   * defensively, passes — the stored extremum. Delta-sized: one join of
   * the changelog's old rows against the group-cardinality base.
   * Equality-triggering is conservative when the extremum is duplicated
   * (the rescan then just confirms the old value) — the aggregate state
   * would need per-group value multisets to know better, which is
   * exactly what MIN/MAX not being self-maintainable under deletion
   * means. */
  private[graft] def minMaxRescanGroups(base: DataFrame, oldSnap: DataFrame,
      changes: DataFrame, keys: Seq[String], group: Column, value: Column,
      groupOut: String, minCol: String, maxCol: String,
      changeCol: String): DataFrame = {
    val removedKeys = changes.filter(col(changeCol).isin("U", "D"))
      .select(keys.map(col): _*)
    rescanFromMinus(base,
      oldSnap.join(removedKeys, keys, "inner")
        .select(group.as(groupOut), value.as("__v")),
      groupOut, minCol, maxCol)
  }

  /** The trigger rule over an already-derived removed-rows frame —
   * shared by [[applyMinMaxDelta]] (which cuts `minus` once for all its
   * consumers) and the spec-facing [[minMaxRescanGroups]]. */
  private def rescanFromMinus(base: DataFrame, minus: DataFrame,
      groupOut: String, minCol: String, maxCol: String): DataFrame =
    // NULL-safe group match: NULL is a real group to the aggregate, so
    // a removed extremum of the NULL group must trigger its rescan too
    minus.filter(col("__v").isNotNull).as("r")
      .join(base.select(col(groupOut), col(minCol).as("__bmin"),
        col(maxCol).as("__bmax")).as("bb"),
        col(s"r.$groupOut") <=> col(s"bb.$groupOut"))
      .filter(col("__v") <= col("__bmin") || col("__v") >= col("__bmax"))
      .select(col(s"r.$groupOut").as(groupOut)).distinct()

  /**
   * Apply an I/U/D changelog to a base MIN/MAX aggregate built by
   * [[minMaxAgg]]. COUNT/SUM deltas always fold ([[applyCountSumDelta]]);
   * MIN/MAX folds monotonically on the INSERT side only — deleting a
   * group's current extremum needs the runner-up, which the aggregate
   * state does not carry (the classic non-self-maintainable case, Gupta
   * & Mumick 1995). The fix here keeps maintenance delta-proportional
   * anyway: only the delta-sized set of AFFECTED groups
   * ([[minMaxRescanGroups]] — a removed value tied the stored extremum)
   * re-aggregates, restricted from the new snapshot by a semi-join (AQE
   * broadcasts the small group list; a group-clustered table layout —
   * [[graft.catalog.Layout]] — additionally file-prunes the rescan).
   * Every other group folds without touching the fact table at all.
   * Output is bit-identical to `minMaxAgg(newSnap, ...)`.
   */
  def applyMinMaxDelta(base: DataFrame, oldSnap: DataFrame,
                       newSnap: DataFrame, changes: DataFrame,
                       keys: Seq[String], group: Column, value: Column,
                       groupOut: String = "grp", cntCol: String = "cnt",
                       minCol: String = "min_units",
                       maxCol: String = "max_units",
                       changeCol: String = "change"): DataFrame = {
    require(keys.nonEmpty, "need changelog key columns")
    require(Seq(groupOut, cntCol, minCol, maxCol).forall(base.columns.contains),
      s"base aggregate must carry $groupOut/$cntCol/$minCol/$maxCol " +
        "(minMaxAgg's shape)")
    val removedKeys = changes.filter(col(changeCol).isin("U", "D"))
      .select(keys.map(col): _*)
    // cut: the removed-row frame (one oldSnap join) feeds BOTH the
    // count delta (magg) and the rescan trigger — uncut, the
    // table-scale oldSnap would scan once per consumer, against this
    // file's own delta-proportional discipline. The trigger is cut too:
    // it feeds the folded anti-join and the rescan semi-join.
    val minus = Materialize(oldSnap.join(removedKeys, keys, "inner")
      .select(group.as(groupOut), value.as("__v")))
    val plus = changes.filter(col(changeCol).isin("I", "U"))
      .select(group.as(groupOut), value.as("__v"))
    val trig = Materialize(rescanFromMinus(base, minus, groupOut, minCol, maxCol))
    val pagg = plus.groupBy(groupOut).agg(count(lit(1)).as("__pc"),
      min("__v").as("__pmin"), max("__v").as("__pmax"))
    val magg = minus.groupBy(groupOut).agg(count(lit(1)).as("__mc"))
    // untriggered groups fold: counts add, extrema widen monotonically
    // (least/greatest skip NULLs, so a new group takes the insert-side
    // extrema and an all-NULL-value group keeps NULL); a group whose
    // count reaches zero had its extremum removed (or held only NULLs)
    // and drops here exactly as a recompute drops it. Every merge is
    // NULL-SAFE on the group key — NULL is a real group to groupBy, and
    // plain equality would leave its base and delta rows unmatched.
    def nsJoin(l: DataFrame, r: DataFrame, how: String): DataFrame = {
      val j = l.as("l").join(r.as("r"),
        col(s"l.$groupOut") <=> col(s"r.$groupOut"), how)
      val keep = (l.columns.filterNot(_ == groupOut).map(c => col(s"l.$c")) ++
        r.columns.filterNot(_ == groupOut).map(c => col(s"r.$c"))).toSeq
      j.select(coalesce(col(s"l.$groupOut"), col(s"r.$groupOut")).as(groupOut)
        +: keep: _*)
    }
    val folded = nsJoin(nsJoin(base, pagg, "full_outer"), magg, "full_outer")
      .as("f")
      .join(trig.as("t"), col(s"f.$groupOut") <=> col(s"t.$groupOut"),
        "left_anti")
      .select(col(groupOut),
        (coalesce(col(cntCol), lit(0L)) + coalesce(col("__pc"), lit(0L)) -
          coalesce(col("__mc"), lit(0L))).as(cntCol),
        least(col(minCol), col("__pmin")).as(minCol),
        greatest(col(maxCol), col("__pmax")).as(maxCol))
      .filter(col(cntCol) > 0)
    // group-targeted rescan: ONLY the affected groups, from the new
    // snapshot; an emptied group yields no rows and so drops, exactly
    // as a recompute drops it
    val rescan = newSnap.select(group.as(groupOut), value.as("__v")).as("n")
      .join(trig.as("t"), col(s"n.$groupOut") <=> col(s"t.$groupOut"),
        "left_semi")
      .groupBy(groupOut)
      .agg(count(lit(1)).as(cntCol), min("__v").as(minCol),
        max("__v").as(maxCol))
    folded.unionByName(rescan)
  }

  /**
   * Auxiliary view for DISTINCT-COUNT maintenance: one row per
   * (group, value) with its multiplicity. COUNT(DISTINCT v) is not
   * self-maintainable from (group, count) state — deleting a value
   * can't tell "last copy gone" from "duplicates remain" — but it IS
   * maintainable through this multiplicity view (the Gupta & Mumick
   * auxiliary-view technique): the view folds I/U/D deltas exactly like
   * a count aggregate keyed by (group, value), and the distinct count
   * is just its per-group row count.
   */
  def distinctAux(df: DataFrame, group: Column, value: Column,
                  groupOut: String = "grp", valOut: String = "val",
                  multOut: String = "mult"): DataFrame =
    df.groupBy(group.as(groupOut), value.as(valOut))
      .agg(count(lit(1)).as(multOut))

  /** The maintained aggregate read off the auxiliary view: per-group
   * count of live DISTINCT non-null values — exactly SQL
   * `count(DISTINCT v)` semantics, including the edge it is easy to
   * lose: a group whose live values are ALL NULL still EXISTS with
   * count 0 (filtering nulls before the groupBy would silently drop
   * it, and a dashboard could not tell "zero distinct values" from
   * "no such group"). Group-cardinality work. */
  def distinctCount(aux: DataFrame, groupOut: String = "grp",
                    valOut: String = "val",
                    cntOut: String = "dcnt"): DataFrame =
    aux.groupBy(groupOut)
      .agg(count(when(col(valOut).isNotNull, 1)).as(cntOut))

  /**
   * Fold an I/U/D changelog into a [[distinctAux]] view, returning the
   * NEW view (pairs whose multiplicity reaches zero drop). Scale shape:
   * the delta aggregates to changelog-sized (group, value) pairs
   * map-side, then ONE join merges it with the view — AQE broadcasts
   * the delta side in the common small-batch case, so the view itself
   * never reshuffles; persist the view in the MERGE store bucketed by
   * its key and the join is additionally bucket-pruned. The fact table
   * is never rescanned — this is what makes the non-self-maintainable
   * aggregate maintainable.
   */
  def applyDistinctAuxDelta(aux: DataFrame, oldSnap: DataFrame,
                            changes: DataFrame, keys: Seq[String],
                            group: Column, value: Column,
                            groupOut: String = "grp", valOut: String = "val",
                            multOut: String = "mult",
                            changeCol: String = "change"): DataFrame = {
    require(keys.nonEmpty, "need changelog key columns")
    require(Seq(groupOut, valOut, multOut).forall(aux.columns.contains),
      s"aux view must carry $groupOut/$valOut/$multOut (distinctAux's shape)")
    val removedKeys = changes.filter(col(changeCol).isin("U", "D"))
      .select(keys.map(col): _*)
    val minus = oldSnap.join(removedKeys, keys, "inner")
      .select(group.as(groupOut), value.as(valOut), lit(-1L).as("__dm"))
    val plus = changes.filter(col(changeCol).isin("I", "U"))
      .select(group.as(groupOut), value.as(valOut), lit(1L).as("__dm"))
    val delta = minus.unionByName(plus)
      .groupBy(groupOut, valOut).agg(sum("__dm").as("__dm"))
    // NULL group/value keys are live data here (a NULL value's
    // multiplicity must round-trip so its rows can later delete), so
    // the merge is null-safe on both key columns
    val a = aux.as("a")
    val d = delta.as("d")
    a.join(d, col(s"a.$groupOut") <=> col(s"d.$groupOut") &&
        col(s"a.$valOut") <=> col(s"d.$valOut"), "full_outer")
      .select(
        coalesce(col(s"a.$groupOut"), col(s"d.$groupOut")).as(groupOut),
        coalesce(col(s"a.$valOut"), col(s"d.$valOut")).as(valOut),
        (coalesce(col(s"a.$multOut"), lit(0L)) +
          coalesce(col("d.__dm"), lit(0L))).as(multOut))
      .filter(col(multOut) > 0)
  }

  /**
   * [[Ivm]] composed with the table store: a registered count/sum
   * aggregate maintained on every commit of its base table — the q46
   * discipline running OVER store commits, closing the reference's CDC
   * arc end to end (changelog → base table → downstream aggregate, no
   * fact-table rescan anywhere; reference
   * src/apply_change_log_to_delta.py:531-660 maintains only the base).
   *
   * Each [[commit]] folds one I/U/D changelog (the [[Scd.snapshotDiff]]
   * contract, keyed by the base table's registered PK) into BOTH tables:
   * the base via a partition-scoped [[graft.catalog.MergeSnapshotStore
   * .mergeScoped]] commit (only the PK-hash buckets holding changed keys
   * are rewritten — commit cost is changelog-proportional at 100 TB);
   * the aggregate via [[applyCountSumDelta]] (delta-sized work, group-
   * cardinality merge). Both plans are pinned to the PRE-commit versions
   * before either commit happens, so the maintenance math always sees a
   * consistent base/aggregate pair.
   *
   * The two commits are not atomic, but [[MaintainedAggregates]]'s
   * per-batch commit marker (whose failure contract this class
   * inherits) makes the recovery safe: re-running a crashed batch is
   * DETECTED and repaired, and re-running a completed one is refused —
   * never silently double-folded.
   */
  final class MaintainedCountSum(store: graft.catalog.MergeSnapshotStore,
      db: String, baseTable: String, aggTable: String,
      group: Column, value: Column) {

    private val inner = new MaintainedAggregates(store, db, baseTable,
      Seq(countSumSpec(aggTable, group, value)))

    /** Bootstrap both tables: the base from `initial`, the aggregate
     * from [[countSumAgg]] over it. */
    def seed(initial: DataFrame): Unit = inner.seed(initial)

    /** One changelog commit: base and aggregate move together. */
    def commit(changes: DataFrame): Unit = inner.commit(changes)

    /** The maintained aggregate as currently committed. */
    def read(): DataFrame = store.read(db, aggTable)

    /** Crash recovery: recompute the aggregate from the committed base. */
    def reseedAggregates(): Unit = inner.reseedAggregates()

    /** The aggregate AS OF a retained base version ([[MaintainedAggregates
     * .replayAggregates]] — dashboard time travel). */
    def replayTo(fromVersion: Int, toVersion: Int): DataFrame =
      inner.replayAggregates(fromVersion, toVersion)(aggTable)
  }

  /** One maintained downstream table: its store table name, how to seed
   * it from the initial base snapshot, and its changelog delta rule
   * `fold(agg, oldSnap, newSnap, changes, keys)`.
   *
   * `scope` (optional) makes the table's commit PARTITION-SCOPED:
   * `scope(oldSnap, newSnap, changes, keys)` returns the
   * frame of the AGGREGATE's own registered-PK values the batch can
   * touch, and the fold then receives ONLY those buckets' current rows
   * (instead of the whole table) and returns their replacement — so a
   * corpus-sized maintained table (an inverted index, a vector index)
   * commits at changelog-proportional cost, exactly like the base. The
   * fold must be scope-closed: every row it removes or adds is keyed
   * within the scope (the merge store fail-fasts on strays). Without
   * `scope` — or on a table with no registered PK — the fold
   * sees the whole aggregate and the commit is a full overwrite, which
   * is right for group-cardinality dashboards. */
  final case class MaintainedAgg(
      table: String,
      seed: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame, DataFrame, DataFrame, Seq[String]) => DataFrame,
      scope: Option[(DataFrame, DataFrame, DataFrame, Seq[String]) => DataFrame] = None,
      // true for folds that can only absorb I rows (sketches cannot
      // subtract): the registry and streaming runner refuse a U/D
      // changelog up front — before anything commits — at the cost of
      // ONE probe per batch shared by every append-only spec, instead
      // of one per spec. The fold itself still detects U/D inline (its
      // delta aggregation raises), so standalone callers keep the
      // refusal without any extra Spark action.
      appendOnly: Boolean = false)

  /** The shipped specs — one per delta rule in this file. */
  def countSumSpec(table: String, group: Column, value: Column): MaintainedAgg =
    MaintainedAgg(table, countSumAgg(_, group, value),
      (agg, old, _, chg, keys) =>
        applyCountSumDelta(agg, old, chg, keys, group, value))

  def minMaxSpec(table: String, group: Column, value: Column): MaintainedAgg =
    MaintainedAgg(table, minMaxAgg(_, group, value),
      (agg, old, nw, chg, keys) =>
        applyMinMaxDelta(agg, old, nw, chg, keys, group, value))

  /** The maintained table holds the MULTIPLICITY VIEW ([[distinctAux]]
   * shape); read the count off it with [[distinctCount]]. */
  def distinctSpec(table: String, group: Column, value: Column): MaintainedAgg =
    MaintainedAgg(table, distinctAux(_, group, value),
      (aux, old, _, chg, keys) =>
        applyDistinctAuxDelta(aux, old, chg, keys, group, value))

  /**
   * HLL-SKETCH distinct-count maintenance — the cardinality dashboard
   * at the scale where even [[distinctAux]] is too big: the exact
   * multiplicity view carries one row per distinct (group, value),
   * itself data-scale for high-cardinality values (distinct URLs per
   * domain, distinct users per shard); an HLL sketch caps per-group
   * state at the sketch size with DataSketches-standard error and
   * merges by register-max UNION, so the fold is one delta-sized sketch
   * aggregate + one group-keyed merge — the fact table is never
   * rescanned and the maintained state never grows with value
   * cardinality. The register state depends only on the SET of hashed
   * values (union takes per-register max), so maintained estimates
   * equal rebuild estimates exactly, regardless of batch boundaries.
   *
   * Sketches are NOT invertible — deleting from an HLL is
   * information-theoretically impossible — so a changelog carrying U/D
   * rows REFUSES loudly instead of silently over-counting. The honest
   * contract is APPEND-ONLY facts (events, logs, crawls — exactly the
   * tables whose cardinality gets sketched); where deletes are real,
   * [[distinctSpec]]'s exact view remains the answer. Small
   * cardinalities (up to the sketch's coupon-set regime, hundreds at
   * the default lgK) estimate EXACTLY — what the oracle gate pins.
   */
  def hllDistinctSpec(table: String, group: Column, value: Column,
                      lgK: Int = 12): MaintainedAgg = {
    require(lgK >= 4 && lgK <= 21, "DataSketches lgK must be in [4, 21]")
    MaintainedAgg(table,
      df => df.groupBy(group.as("grp"))
        .agg(hll_sketch_agg(value, lit(lgK)).as("hll")),
      (agg, _, _, chg, _) => {
        // U/D refusal rides the delta aggregation itself — no separate
        // probe action: the sketch folds only I-row values (U/D rows
        // contribute NULL, which the aggregate skips) while the SAME
        // pass counts U/D rows, and a nonzero count turns the group's
        // sketch into raise_error, firing with the fold's own action.
        // Registry/streaming callers refuse even earlier (before any
        // commit) via the appendOnly flag.
        val msg = s"hllDistinctSpec($table) maintains an APPEND-ONLY " +
          "sketch — the changelog carries U/D rows, which no HLL can " +
          "subtract; use distinctSpec's exact multiplicity view for " +
          "tables with updates/deletes"
        val delta = chg
          .select(group.as("grp"),
            when(col("change") === "I", value).as("__v"),
            col("change").isin("U", "D").cast("long").as("__ud"))
          .groupBy("grp")
          .agg(hll_sketch_agg(col("__v"), lit(lgK)).as("__dh"),
            sum("__ud").as("__b"))
          // the refusal rides the JOIN KEY, which no downstream
          // projection can prune away — wrapped around the sketch
          // column instead, a consumer selecting only group keys would
          // column-prune the raise_error out of the plan and read a
          // changelog the sketch could never absorb
          .select(when(col("__b") > 0, raise_error(lit(msg)))
              .otherwise(col("grp")).as("grp"),
            col("__dh"))
        // null-safe on the group key (NULL is a real group), union only
        // where both sides exist — hll_union of a NULL side is NULL,
        // which would erase a group's history
        agg.as("a").join(delta.as("d"),
            col("a.grp") <=> col("d.grp"), "full_outer")
          .select(coalesce(col("a.grp"), col("d.grp")).as("grp"),
            when(col("a.hll").isNull, col("__dh"))
              .when(col("__dh").isNull, col("a.hll"))
              .otherwise(hll_union(col("a.hll"), col("__dh"))).as("hll"))
      },
      appendOnly = true)
  }

  /** The estimates read off an [[hllDistinctSpec]] table: per-group
   * approximate distinct count (exact while the sketch is still in its
   * coupon regime). */
  def hllDistinctCount(agg: DataFrame, groupOut: String = "grp",
                       cntOut: String = "dcnt"): DataFrame =
    agg.select(col(groupOut), hll_sketch_estimate(col("hll")).as(cntOut))

  /**
   * KLL-SKETCH quantile maintenance — the latency/size/score dashboard
   * at the scale where exact per-group percentiles mean re-sorting the
   * fact table every batch: per-group state is ONE DataSketches KLL
   * sketch (k-bounded, default k=200 ≈ 1.65% normalized rank error),
   * the fold is a delta-sized sketch aggregate plus a group-keyed
   * pairwise merge, and the fact table is never rescanned. Merge is the
   * sketch's own commutative/associative union, so within the EXACT
   * regime (n ≤ k per group: nothing has compacted) the maintained
   * sketch retains the same item set as a rebuild and every quantile is
   * the exact order statistic — what the oracle gate pins; past it the
   * DataSketches rank-error bound governs (and compaction draws a
   * random offset, so past-exact maintained and rebuilt sketches agree
   * in RANK ERROR, not bytes).
   *
   * Like every sketch, KLL cannot subtract: a changelog carrying U/D
   * rows REFUSES loudly. Append-only facts (events, latencies, crawl
   * sizes) are the honest contract; where deletes are real, recompute
   * the percentile from the snapshot.
   */
  def kllQuantileSpec(table: String, group: Column, value: Column,
                      k: Int = graft.functions.KllSketchExpressions.KllDefaultK)
      : MaintainedAgg = {
    import graft.functions.KllSketchExpressions.{kllAgg, kllMergePair}
    MaintainedAgg(table,
      df => df.groupBy(group.as("grp"))
        .agg(kllAgg(value.cast("double"), k).as("kll")),
      (agg, _, _, chg, _) => {
        // inline U/D refusal in the delta aggregation (see
        // hllDistinctSpec): zero extra actions, raises with the fold's
        // own action
        val msg = s"kllQuantileSpec($table) maintains an APPEND-ONLY " +
          "sketch — the changelog carries U/D rows, which no quantile " +
          "sketch can subtract; recompute from the snapshot where " +
          "deletes are real"
        val delta = chg
          .select(group.as("grp"),
            when(col("change") === "I", value.cast("double")).as("__v"),
            col("change").isin("U", "D").cast("long").as("__ud"))
          .groupBy("grp")
          .agg(kllAgg(col("__v"), k).as("__dk"), sum("__ud").as("__b"))
          // refusal on the JOIN KEY (un-prunable; see hllDistinctSpec)
          .select(when(col("__b") > 0, raise_error(lit(msg)))
              .otherwise(col("grp")).as("grp"),
            col("__dk"))
        // null-safe on the group key; kllMergePair passes a NULL side
        // through, so a brand-new group adopts the delta sketch and an
        // untouched group keeps its history verbatim
        agg.as("a").join(delta.as("d"),
            col("a.grp") <=> col("d.grp"), "full_outer")
          .select(coalesce(col("a.grp"), col("d.grp")).as("grp"),
            kllMergePair(col("a.kll"), col("__dk")).as("kll"))
      },
      appendOnly = true)
  }

  /** The quantiles read off a [[kllQuantileSpec]] table: one DOUBLE
   * column per requested rank (INCLUSIVE search — the smallest retained
   * item whose rank reaches it; the exact order statistic while the
   * sketch is in its exact regime). Column names are `q` + percent,
   * e.g. ranks 0.5/0.99 → `q50`/`q99`. */
  def kllQuantiles(agg: DataFrame, ranks: Seq[Double],
                   groupOut: String = "grp"): DataFrame = {
    require(ranks.nonEmpty, "ask for at least one rank")
    import graft.functions.KllSketchExpressions.kllQuantile
    // sub-percent ranks keep their decimals ('.'->'_': 0.999 -> q99_9),
    // never rounding two requested ranks onto one column name
    def nameOf(r: Double): String = {
      val pct = BigDecimal(r) * 100
      "q" + pct.underlying.stripTrailingZeros.toPlainString.replace('.', '_')
    }
    val names = ranks.map(nameOf)
    require(names.distinct.size == names.size,
      s"ranks collide on column names: ${ranks.zip(names).mkString(",")}")
    agg.select(col(groupOut) +: ranks.zip(names).map { case (r, n) =>
      kllQuantile(col("kll"), lit(r)).as(n)
    }: _*)
  }

  /**
   * FREQUENT-ITEMS sketch maintenance — heavy hitters per group (top
   * URLs per domain, dominant source tags per shard) with state bounded
   * by `maxMapSize` counters no matter how many distinct items flow:
   * the third maintained-dashboard sketch beside [[hllDistinctSpec]]
   * (cardinality) and [[kllQuantileSpec]] (quantiles). The fold is one
   * delta-sized sketch aggregate plus a group-keyed pairwise merge;
   * EXACT while no purge has happened (distinct items per group under
   * ~0.75·maxMapSize — the oracle-pinned regime), ε-bounded counts
   * with NO_FALSE_NEGATIVES supersets past it. Like every sketch it
   * cannot subtract: U/D changelogs REFUSE loudly; where deletes are
   * real, recompute from the snapshot (or keep the exact groupBy —
   * heavy hitters of a mutable table is a full-view question).
   */
  def freqItemsSpec(table: String, group: Column, item: Column,
                    maxMapSize: Int =
                      graft.functions.FreqSketchExpressions.FreqDefaultMapSize)
      : MaintainedAgg = {
    import graft.functions.FreqSketchExpressions.{freqAgg, freqMergePair}
    MaintainedAgg(table,
      df => df.groupBy(group.as("grp"))
        .agg(freqAgg(item.cast("string"), maxMapSize).as("fi")),
      (agg, _, _, chg, _) => {
        // inline U/D refusal in the delta aggregation (see
        // hllDistinctSpec): zero extra actions, raises with the fold's
        // own action
        val msg = s"freqItemsSpec($table) maintains an APPEND-ONLY " +
          "sketch — the changelog carries U/D rows, which no frequency " +
          "sketch can subtract; recompute from the snapshot where " +
          "deletes are real"
        val delta = chg
          .select(group.as("grp"),
            when(col("change") === "I", item.cast("string")).as("__i"),
            col("change").isin("U", "D").cast("long").as("__ud"))
          .groupBy("grp")
          .agg(freqAgg(col("__i"), maxMapSize).as("__df"),
            sum("__ud").as("__b"))
          // refusal on the JOIN KEY (un-prunable; see hllDistinctSpec)
          .select(when(col("__b") > 0, raise_error(lit(msg)))
              .otherwise(col("grp")).as("grp"),
            col("__df"))
        agg.as("a").join(delta.as("d"),
            col("a.grp") <=> col("d.grp"), "full_outer")
          .select(coalesce(col("a.grp"), col("d.grp")).as("grp"),
            freqMergePair(col("fi"), col("__df")).as("fi"))
      },
      appendOnly = true)
  }

  /** The heavy hitters read off a [[freqItemsSpec]] table: one row per
   * (group, item) with the estimate and its deterministic bounds,
   * NO_FALSE_NEGATIVES (in the exact regime: exactly the per-group item
   * counts). `minEst` drops the long tail. */
  def freqTopItems(agg: DataFrame, minEst: Long = 1L,
                   groupOut: String = "grp"): DataFrame = {
    import graft.functions.FreqSketchExpressions.freqItems
    agg.select(col(groupOut), explode(freqItems(col("fi"))).as("__r"))
      .select(col(groupOut), col("__r.item").as("item"),
        col("__r.est").as("est"), col("__r.lb").as("lb"),
        col("__r.ub").as("ub"))
      .filter(col("est") >= minEst)
  }

  /**
   * The registry form of [[MaintainedCountSum]]: ONE base table with ANY
   * number of maintained downstream aggregates, all moved by one
   * changelog commit — count/sum, min/max, and distinct-count dashboards
   * over the same fact table share the one changelog cut, the one
   * snapshot fold, and the one scoped base commit instead of each
   * re-deriving them. Every aggregate's plan is pinned against the
   * PRE-commit versions before anything commits (reads resolve their
   * manifests eagerly; the store's retention keeps the pinned files
   * live), so the maintenance math always sees a consistent pair.
   *
   * Failure contract (single-writer batch): the base fold is
   * IDEMPOTENT (the anti-join removes every changelog key, inserts
   * included, before the new images union in — replaying a committed
   * batch reproduces the same base), but the AGGREGATE folds are not —
   * naively re-folding an already-applied changelog would compute
   * minus/plus against the already-folded base and silently corrupt
   * the aggregates (a D key finds no old row so its decrement is lost;
   * a U key picks the new image as the "removed" value). [[commit]]
   * therefore records a tiny per-batch marker table (changelog digest
   * + pre-commit base version, committed through the same store) and
   * on a digest match DETECTS what the previous attempt reached: a
   * crash before the base commit resumes normally, a crash after it
   * repairs via [[reseedAggregates]] and marks the batch done, and a
   * fully-applied batch is REFUSED with an exception. The
   * stale-incomplete evidence (aggsDone=false with a moved base
   * version) is also honored across DIGESTS: if a crashed batch's
   * caller moves on and commits the next, different batch, the commit
   * first repairs the aggregates from the committed base before
   * proceeding — the aggregates can never silently fall a batch
   * behind. Two blind spots remain, both inherent to a single-slot
   * marker: (1) replay REFUSAL covers only the MOST RECENT batch —
   * replaying an older completed batch is undetected because its
   * marker was overwritten by later commits; (2) two consecutive
   * batches with byte-identical changelog content are
   * indistinguishable from a replay by construction; such a batch is
   * a semantic no-op for U/D rows, but callers whose workload can
   * legitimately produce either shape (multi-batch replay windows, or
   * re-inserting rows deleted by the immediately preceding batch,
   * byte-for-byte) should carry a batch-id column in the changelog to
   * disambiguate. The streaming twin
   * ([[graft.streaming.StreamingAnalytics.maintainAggregate]])
   * instead pins base versions per batch id.
   */
  final class MaintainedAggregates(store: graft.catalog.MergeSnapshotStore,
      db: String, baseTable: String, aggs: Seq[MaintainedAgg]) {
    require(aggs.nonEmpty, "need at least one maintained aggregate")
    require(aggs.map(_.table).distinct.size == aggs.size,
      "maintained aggregate tables must be distinct")

    private def pk: Seq[String] = store.catalog.primaryKey(db, baseTable)

    /** Test-only failpoint: simulate a crash between the base commit and
     * the aggregate overwrites (the window the commit marker exists for). */
    private[graft] var failAfterBaseCommit: Boolean = false

    // ---- per-batch commit marker (crash/replay detection) ----
    // A sidecar FILE inside the base table's location (committed via the
    // shared tmp+rename discipline — readers see the old or new marker,
    // never a torn one; the `_`-prefix keeps data scans away), NOT a
    // store table: a marker table would pay two full commit machineries
    // (shuffle + manifest + vacuum + stats) per batch for three fields.

    private val MarkerFile = "_ivm_marker.tsv"

    private def baseLocation: String = store.catalog(db, baseTable).location

    /** Order-independent content digest of one changelog batch: row count
     * plus the sum of per-row xxhash64 over the sorted-column struct.
     * Deterministic across sessions, insensitive to partitioning and row
     * order — exactly what "is this the same batch again?" needs. The
     * same single pass also counts U/D rows, so the append-only refusal
     * for sketch aggregates costs no extra action. */
    private def changelogDigest(chg: DataFrame): (String, Long) = {
      val r = chg
        .select(xxhash64(struct(chg.columns.sorted.map(col).toIndexedSeq: _*))
          // decimal(38,0) sum: exact and overflow-free under ANSI mode
          // (a plain long sum of 64-bit hashes overflows almost surely)
          .cast("decimal(38,0)").as("__h"),
          col("change").isin("U", "D").cast("long").as("__ud"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum("__h"), lit(0).cast("decimal(38,0)")).as("s"),
          coalesce(sum("__ud"), lit(0L)).as("ud"))
        .head()
      (s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}", r.getLong(2))
    }

    private case class Marker(digest: String, baseVersionBefore: Int,
                              aggsDone: Boolean)

    private def readMarker(spark: org.apache.spark.sql.SparkSession): Option[Marker] = {
      val p = new org.apache.hadoop.fs.Path(baseLocation, MarkerFile)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) None
      else {
        val lines = graft.catalog.Layout.readSidecarLines(spark, baseLocation,
          MarkerFile, "MaintainedAggregates")
        lines.headOption.map(_.split('\t')) match {
          case Some(Array(dg, ver, done)) =>
            try Some(Marker(dg, ver.toInt, done.toBoolean))
            catch { case scala.util.control.NonFatal(_) => garbled(p) }
          case _ => garbled(p)
        }
      }
    }

    /** A marker that exists but does not parse must FAIL the commit, not
     * read as absent: "absent" would treat a replayed completed batch as
     * fresh — the exact corruption the marker exists to prevent. The
     * tmp+rename write makes this unreachable short of external damage. */
    private def garbled(p: org.apache.hadoop.fs.Path): Nothing =
      throw new IllegalStateException(
        s"garbled IVM commit marker at $p — repair with reseedAggregates() " +
          "and delete the marker before committing again")

    private def writeMarker(spark: org.apache.spark.sql.SparkSession,
                            mk: Marker): Unit =
      graft.catalog.Layout.writeSidecar(spark, baseLocation, MarkerFile,
        s"${mk.digest}\t${mk.baseVersionBefore}\t${mk.aggsDone}")

    private def deleteMarker(spark: org.apache.spark.sql.SparkSession): Unit = {
      val p = new org.apache.hadoop.fs.Path(baseLocation, MarkerFile)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    }

    def seed(initial: DataFrame): Unit = store.jobLabel(
        s"ivm: seed $db.$baseTable") { Materialize.scoped {
      store.overwrite(db, baseTable, initial)
      val base = store.read(db, baseTable)
      // independent tables, independent write jobs: land them
      // concurrently (Materialize.fanOut), so the per-commit fixed
      // cost overlaps instead of paying N× in wall time
      Materialize.fanOut(aggs)(a => store.overwrite(db, a.table, a.seed(base)))
      // a fresh seed starts a new batch history: a stale digest from a
      // previous life must not refuse this life's first commit ("seed"
      // can never collide with a real "n:s" digest)
      writeMarker(initial.sparkSession,
        Marker("seed", store.latestVersion(db, baseTable), aggsDone = true))
    } }

    /** One changelog commit: the base and EVERY aggregate move together.
     * The changelog is cut once up front — it feeds each aggregate's
     * delta, the snapshot fold, and the scoped commit's touched-bucket
     * scan, and an expensive caller plan ([[Scd.snapshotDiff]] of two
     * table-scale versions is the natural input) must not re-execute
     * once per consumer. */
    def commit(changes: DataFrame): Unit = store.jobLabel(
        s"ivm: commit $db.$baseTable") { Materialize.scoped {
      // scoped: the changelog cut AND any operator-internal cuts the
      // folds create (applyMinMaxDelta cuts its removed-rows frame) are
      // released when the commit's actions finish — without the scope a
      // long-lived caller (or the streaming runner) would pin a cut per
      // commit forever
      val ks = pk
      val chg = Materialize(changes)
      val (digest, udRows) = changelogDigest(chg)
      // append-only sketch specs refuse a U/D batch BEFORE anything
      // commits (the folds also refuse inline, but by then the base
      // would already have moved and the repair path would rebuild the
      // sketches from the snapshot — an expensive rescue the up-front
      // refusal exists to avoid); one shared check for every such spec,
      // riding the digest pass
      val appendOnlyTables = aggs.filter(_.appendOnly).map(_.table)
      if (udRows > 0 && appendOnlyTables.nonEmpty)
        throw new IllegalArgumentException(
          s"registry on $db.$baseTable maintains APPEND-ONLY sketch " +
            s"aggregates (${appendOnlyTables.mkString(", ")}) but the " +
            s"changelog batch carries $udRows U/D rows, which no sketch " +
            "can subtract; use exact maintained views (distinctSpec / " +
            "countSumSpec / minMaxSpec) where updates and deletes are real")
      val baseVer = store.latestVersion(db, baseTable)
      val marker = readMarker(changes.sparkSession)
      // stale-incomplete evidence holds for ANY digest, not just a
      // replay of the same batch: aggsDone=false with a MOVED base
      // version means a previous batch's base committed but its
      // aggregate overwrites never finished. If the caller now commits
      // the NEXT, different batch instead of replaying the crashed one,
      // filtering the marker by digest would discard that evidence, the
      // new batch would run as "fresh", and the aggregates would be
      // silently one batch behind forever. Repair FIRST (reseed from
      // the committed base, which already holds the crashed batch),
      // then let this batch proceed normally.
      val preBatchMarker: Option[Marker] = marker match {
        case Some(m) if !m.aggsDone && m.baseVersionBefore != baseVer &&
            m.digest != digest =>
          reseedAggregates()
          val repaired = Marker(m.digest, baseVer, aggsDone = true)
          writeMarker(changes.sparkSession, repaired)
          Some(repaired)
        case other => other
      }
      val replayOf = marker.filter(_.digest == digest)
      // an empty batch is a semantic no-op; folding it would be too, but
      // digest-tracking it would refuse the NEXT empty batch as a replay
      if (digest == "0:0") ()
      else if (replayOf.exists(_.aggsDone))
        throw new IllegalStateException(
          s"changelog batch (digest $digest) was already fully applied to " +
            s"$db.$baseTable — refusing the replay: re-folding it would " +
            "silently corrupt the maintained aggregates (see the class doc; " +
            "identical-content consecutive batches need a batch-id column)")
      else if (replayOf.exists(_.baseVersionBefore != baseVer)) {
        // the previous attempt committed the base, then crashed before
        // finishing the aggregate overwrites: the aggregates are behind
        // (or partially ahead). The always-correct repair recomputes
        // them from the committed base — which already holds this batch.
        reseedAggregates()
        writeMarker(changes.sparkSession,
          Marker(digest, baseVer, aggsDone = true))
      } else {
        // fresh batch — or a replay whose previous attempt crashed
        // before the base commit, which resumes as if fresh
        writeMarker(changes.sparkSession,
          Marker(digest, baseVer, aggsDone = false))
        val old = store.read(db, baseTable) // version-pinned pre-commit
        // anti-join ALL changelog keys (not just U/D): for a fresh apply
        // the I keys are absent and the anti-join is a no-op, and for a
        // REPLAYED batch it removes the previously inserted rows before
        // re-adding them — the base fold is idempotent by construction
        val gone = chg.select(ks.map(col): _*)
        val arrived = chg.filter(col("change").isin("I", "U")).drop("change")
        def folded(target: DataFrame): DataFrame =
          target.join(gone, ks, "left_anti")
            .unionByName(arrived.select(target.columns.map(col).toIndexedSeq: _*))
        val newSnap = folded(old)
        def scopedKeysOf(a: MaintainedAgg): Option[DataFrame] =
          for {
            sc <- a.scope
            if store.catalog(db, a.table).hasPrimaryKey
          } yield sc(old, newSnap, chg, ks)
        // pin every aggregate's inputs BEFORE any commit moves a version
        // (a scoped table's fold runs lazily inside its own mergeScoped,
        // but its snapshot inputs — old, newSnap, chg — are pinned here,
        // and its own manifest cannot move before that commit runs)
        val newAggs = aggs.map { a =>
          scopedKeysOf(a) match {
            case Some(keysFrame) => a -> Right(keysFrame)
            case None =>
              a -> Left(a.fold(store.read(db, a.table), old, newSnap, chg, ks))
          }
        }
        // a conflict-REFUSED base commit (a concurrent writer rewrote
        // this batch's buckets) fails cleanly before any table moved —
        // restore the pre-batch marker so the refusal leaves no
        // fresh-incomplete evidence behind: without the restore, the
        // caller's NEXT commit would read this batch's marker as a
        // crashed-after-base attempt (the base version DID move — the
        // concurrent winner moved it) and wrongly mark this digest
        // applied. Crashes (no catch runs) keep the documented
        // fresh-incomplete semantics, which are sound single-writer.
        try store.mergeScoped(db, baseTable, chg.select(ks.map(col): _*))(folded)
        catch {
          case e: java.util.ConcurrentModificationException =>
            preBatchMarker match {
              case Some(pm) => writeMarker(changes.sparkSession, pm)
              case None => deleteMarker(changes.sparkSession)
            }
            throw e
        }
        if (failAfterBaseCommit)
          throw new IllegalStateException(
            "failpoint: crashed after base commit, before aggregates")
        // independent aggregate tables, independent write jobs — fan
        // them out; a failure leaves the same aggsDone=false marker
        // window as a sequential crash, repaired the same way. Cuts a
        // scoped fold creates on a worker thread (the BM25 memoized
        // tokenize tables, SHARED across sibling folds) join this
        // commit's Materialize scope, not the worker's.
        Materialize.fanOut(newAggs) {
          case (a, Left(df)) => store.overwrite(db, a.table, df)
          case (a, Right(keysFrame)) =>
            store.mergeScoped(db, a.table, keysFrame)(rows =>
              a.fold(rows, old, newSnap, chg, ks))
        }
        writeMarker(changes.sparkSession,
          Marker(digest, baseVer, aggsDone = true))
      }
    } }

    /** A maintained table as currently committed. */
    def read(table: String): DataFrame = store.read(db, table)

    /**
     * One CONSISTENT cross-table snapshot of the registry — the version
     * of the base table and of every maintained aggregate as of some
     * fully-committed batch, for version-pinned serving
     * ([[graft.operators.TextAnalysis.bm25TopKFromStore]] /
     * [[graft.operators.Similarity.ivfTopKFromStore]] pinned overloads)
     * under concurrent maintenance. Per-table `latestVersion` reads are
     * NOT enough: [[commit]] moves the base and each aggregate
     * sequentially, so a sweep racing a commit can pair a new postings
     * version with an old stats version — an index that never existed.
     *
     * The sweep is bracketed by the commit marker: [[commit]] flips the
     * marker to aggsDone=false BEFORE the base moves and back to
     * aggsDone=true only after the LAST aggregate commits, so a sweep
     * that reads aggsDone=true markers with identical content on both
     * sides observed a quiescent registry — no commit started, ran, or
     * finished inside it. A mid-flight commit (aggsDone=false) or a
     * marker change retries, bounded like the store's own CAS loop.
     */
    def pinVersions(): Map[String, Int] = {
      val spark = org.apache.spark.sql.SparkSession.active
      val max = graft.catalog.MergeSnapshotStore.MaxCommitAttempts
      var attempt = 0
      while (attempt < max) {
        attempt += 1
        val m1 = readMarker(spark)
        if (m1.forall(_.aggsDone)) {
          val pin = (baseTable +: aggs.map(_.table))
            .map(t => t -> store.latestVersion(db, t)).toMap
          if (readMarker(spark) == m1) return pin
        }
      }
      throw new IllegalStateException(
        s"could not pin $db.$baseTable registry versions in $max attempts — " +
          "either commits land faster than a two-marker-read sweep, or a " +
          "crashed commit left aggsDone=false (repair via the next commit " +
          "or reseedAggregates() + a marker rewrite)")
    }

    /** Recovery reset: recompute every maintained aggregate from the
     * CURRENTLY COMMITTED base — the always-correct (if full-scan)
     * repair after a crash left aggregates behind the base. */
    def reseedAggregates(): Unit = Materialize.scoped {
      val base = store.read(db, baseTable)
      Materialize.fanOut(aggs)(a => store.overwrite(db, a.table, a.seed(base)))
    }

    /**
     * TIME TRAVEL for the dashboards: every maintained aggregate AS OF
     * base version `toVersion`, rebuilt by seeding from `fromVersion`'s
     * retained snapshot and folding the per-step changelogs the store
     * derives after the fact ([[graft.catalog.MergeSnapshotStore
     * .changesBetween]]) — so the registry answers "what did this
     * dashboard show at version N?" even though no writer recorded a
     * changelog and the aggregate tables only hold their LATEST state.
     * Returns table -> frame; commits nothing.
     *
     * Cost: one seed over `fromVersion`'s snapshot plus, per step, one
     * version-pair diff (a full-outer join of two manifest-resolved
     * reads) and the aggregate folds' delta-sized work — so replaying a
     * few versions back is far cheaper than re-aggregating history from
     * raw data, and seeding from a LATER retained version shortens the
     * walk. Every version in `[fromVersion, toVersion]` must still be
     * inside the store's retention window. Each step's aggregates are
     * [[Materialize]]d (the fold chain would otherwise nest one plan
     * per version) with superseded steps released eagerly; the RETURNED
     * frames hold the final cuts — consume them under the session's
     * release discipline ([[Materialize.scoped]] / `releaseAll`).
     */
    def replayAggregates(fromVersion: Int,
                         toVersion: Int): Map[String, DataFrame] = {
      require(fromVersion >= 0 && fromVersion <= toVersion,
        s"need 0 <= fromVersion <= toVersion, got $fromVersion..$toVersion")
      val meta = store.catalog(db, baseTable)
      val ks = pk
      var cur: Map[String, DataFrame] = {
        val base = store.readVersion(meta, fromVersion)
        aggs.map(a => a.table -> Materialize.eager(a.seed(base))).toMap
      }
      for (v <- fromVersion + 1 to toVersion) {
        val old = store.readVersion(meta, v - 1)
        val nw = store.readVersion(meta, v)
        val chg = Materialize(store.changesBetween(db, baseTable, v - 1, v))
        val next = aggs.map(a =>
          a.table -> Materialize.eager(
            a.fold(cur(a.table), old, nw, chg, ks))).toMap
        cur.values.foreach(Materialize.release)
        Materialize.release(chg)
        cur = next
      }
      cur
    }
  }
}
