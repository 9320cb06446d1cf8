package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot diffing — "what changed between two versions of this
  * table": the audit step an incremental pipeline runs after every
  * refresh (did the new crawl drop a shard? did a config change
  * silently rewrite half the corpus?). The reference's analog is its
  * between-parts output comparison discipline (outputs of one part are
  * the checked inputs of the next); this makes it a first-class
  * relational operator.
  *
  * SCALE SHAPE: one null-safe full-outer join on the key — the single
  * unavoidable shuffle (bucket both snapshots on the key via
  * [[graft.sources.Sinks.writeBucketed]] and even that disappears,
  * the q45/q92 pattern). Change detection is a null-safe struct
  * comparison in the join's projection — no second pass, no
  * per-column joins. Row-level output so downstream can act on the
  * changed keys; aggregate with `groupBy("status").count()` for the
  * report form.
  */
object Snapshot {

  /** MERGE/upsert — [[diff]]'s inverse: apply a CHANGESET to a base
    * snapshot and produce the next version. `changes` carries `opCol`
    * ∈ {"upsert", "delete"}: keys present in the changeset are
    * replaced (upsert) or dropped (delete); everything else passes
    * through. This is how an incremental corpus actually advances
    * between the q99-audited versions — recompute-the-world is the
    * thing a 100 TB pipeline cannot do.
    *
    * SCALE SHAPE: one anti-join of base against the changeset keys
    * (null-safe — NULL keys are legal rows and must be replaceable)
    * plus a union with the upsert rows. The changeset is small next to
    * the base BY DEFINITION of an increment, so AQE broadcasts the
    * anti-join's build side; bucket both tables on the key
    * ([[graft.sources.Sinks.writeBucketed]]) and even the shuffled
    * fallback disappears (the q45/q92 zero-exchange pattern). The base
    * never shuffles for the union — it is partition-wise.
    *
    * Changesets must carry at most one row per key (the usual CDC
    * compaction contract); `requireUniqueKeys` documents rather than
    * scans — verifying it costs a pass over the changeset only, which
    * callers can afford: `changes.groupBy(keys).count.where(n>1)`.
    */
  def applyChangeset(base: DataFrame, changes: DataFrame,
                     keyCols: Seq[String], opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val ck = changes.select(
      keyCols.map(c => col(c).as(s"_ck_$c")): _*)
    val keyEq = keyCols.map(c => col(c) <=> col(s"_ck_$c"))
      .reduce(_ && _)
    base.join(ck, keyEq, "left_anti")
      .unionByName(
        changes.where(col(opCol) === "upsert").drop(opCol))
  }

  /** Incremental aggregate maintenance: merge a NEW BATCH's partial
    * aggregates into a maintained per-key state table without
    * recomputing history — `merged(k) = state(k) ⊕ agg(batch)(k)` for
    * the decomposable aggregates (counts and sums; min/max merge the
    * same way, avg = merged sum / merged count). This is the batch
    * half of what a streaming agg's state store does, as a plain
    * table-maintenance operator: history costs ZERO scan — only the
    * batch aggregates, and the merge is a key-keyed outer join of two
    * aggregate-sized (not corpus-sized) tables.
    *
    * `state` and `batchAgg` must share `keyCols` ++ `aggCols` schemas
    * (the caller produces `batchAgg` with the same aggregation that
    * built the state). Keys new to the batch appear; untouched state
    * keys pass through (null-safe join keys, like [[applyChangeset]]).
    */
  def mergeAggregates(state: DataFrame, batchAgg: DataFrame,
                      keyCols: Seq[String], aggCols: Seq[String])
      : DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val s = state.select(
      keyCols.map(col) ++ aggCols.map(c => col(c).as(s"_s_$c")): _*)
    val b = batchAgg.select(
      keyCols.map(c => col(c).as(s"_b_$c")) ++
        aggCols.map(c => col(c).as(s"_b_$c")): _*)
    val keyEq = keyCols.map(c => col(c) <=> col(s"_b_$c")).reduce(_ && _)
    s.join(b, keyEq, "full_outer")
      .select(
        keyCols.map(c => coalesce(col(c), col(s"_b_$c")).as(c)) ++
          aggCols.map(c =>
            (coalesce(col(s"_s_$c"), lit(0L)) +
             coalesce(col(s"_b_$c"), lit(0L))).as(c)): _*)
  }

  /** SCD-2 intervalization: compress a change LOG into validity
    * intervals — per key, keep only rows whose tracked attributes
    * differ from the previous row (change-point compression), then
    * close each surviving version with the next change's timestamp
    * (`valid_to` NULL = current version). The point-in-time lookup on
    * the result is [[AsOfJoin]]; together they are the
    * dimension-history half of a warehouse the reference's static
    * tables never needed.
    *
    * Determinism: `tieCol` breaks equal-timestamp changes (same-day
    * updates) identically in any engine. Attribute comparison is
    * null-safe via a struct `<=>` (a NULL→NULL attribute is NOT a
    * change).
    *
    * SCALE SHAPE: both windows share one partitioning (key hash) and
    * one sort — the change-point filter preserves partition-local
    * order, so Catalyst plans ONE exchange + ONE sort for the whole
    * operator (PlanSpec pins it). State per key is O(1) (lag/lead of
    * one row); nothing collects.
    */
  def intervalize(changes: DataFrame, keyCols: Seq[String],
                  tsCol: String, tieCol: String,
                  attrCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val attrs = struct(attrCols.map(col): _*)
    val changePoints = changes
      .withColumn("_prev", lag(attrs, 1).over(w))
      .where(col("_prev").isNull || !(col("_prev") <=> attrs))
    changePoints
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select((keyCols ++ attrCols).map(col) :+
        col("valid_from") :+ col("valid_to"): _*)
  }

  /** POINT-IN-TIME lookup against an [[intervalize]]d dimension: each
    * probe row receives the attribute version valid at its timestamp —
    * the "as of when it happened" enrichment (training-feature
    * correctness depends on it: joining TODAY's dimension onto
    * historical facts leaks the future).
    *
    * Because intervalize emits CONTIGUOUS intervals per key
    * (valid_to = next valid_from), containment reduces to a backward
    * as-of join on valid_from alone — [[AsOfJoin.asofBackward]]'s
    * co-partitioned sort-merge, never an interval range join (q162 at a
    * 10x twin of sf0.1: 15.7 s, against 16.5 s for the union + LOCF
    * window form it replaced). Probes before the key's first version
    * keep NULL attributes (left semantics).
    *
    * `intervals` must be intervalize output (or share its contract);
    * `probeTs` and `valid_from`, and each key column, must have the
    * same type on both sides (caller aligns; AsOfJoin checks).
    */
  def pointInTime(intervals: DataFrame, probes: DataFrame,
                  keyCols: Seq[String], probeTs: String,
                  attrCols: Seq[String]): DataFrame =
    AsOfJoin.asofBackward(
      probes,
      intervals.select((keyCols :+ "valid_from").map(col) ++
        attrCols.map(col): _*),
      keyCols, probeTs, "valid_from", attrCols)

  /** Row-level diff of `newDf` vs `oldDf` by `keyCols`: one row per
    * key present in either side, with `status` ∈
    * {added, removed, changed, unchanged} judged over `compareCols`
    * (null-safe: NULL == NULL is unchanged — a schema's nullable
    * column must not flag every NULL row as a change).
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
           compareCols: Seq[String]): DataFrame = {
    // presence markers, not key-null tests: NULL keys are legal rows
    // (they join null-safely) and must not read as "absent"
    val o = oldDf.select(
      keyCols.map(c => col(c).as(s"_ok_$c")) ++
        compareCols.map(c => col(c).as(s"_ov_$c")) :+
        lit(1).as("_op"): _*)
    val n = newDf.select(
      keyCols.map(c => col(c).as(s"_nk_$c")) ++
        compareCols.map(c => col(c).as(s"_nv_$c")) :+
        lit(1).as("_np"): _*)
    val keyEq = keyCols.map(c => col(s"_ok_$c") <=> col(s"_nk_$c"))
      .reduce(_ && _)
    val inOld = col("_op").isNotNull
    val inNew = col("_np").isNotNull
    val same = compareCols.map(c => col(s"_ov_$c") <=> col(s"_nv_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val status = when(!inOld, lit("added"))
      .when(!inNew, lit("removed"))
      .when(same, lit("unchanged"))
      .otherwise(lit("changed"))
    o.join(n, keyEq, "full_outer")
      .select(keyCols.map(c =>
        coalesce(col(s"_nk_$c"), col(s"_ok_$c")).as(c)) :+
        status.as("status"): _*)
  }
}
