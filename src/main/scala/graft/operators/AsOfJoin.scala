package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for every left row, attach the latest right row
  * with `right.ts <= left.ts` within the same key — the standard
  * trades/quotes ("most recent state at event time") operator, which
  * Spark has no built-in for.
  *
  * Formulation: tag and UNION both sides, one shuffle on the key, sort
  * each key group by (ts, side) with right-before-left on ties, then
  * last-observation-carried-forward via `last(col, ignoreNulls)` over a
  * running window; keep only left rows. Why this beats the obvious
  * range-join + row_number: the theta join materializes every
  * (left, earlier-right) pair — quadratic per key — while the union form
  * is one spillable sort per key group, linear in rows, and whole-stage
  * codegen'd. This is the 100 TB formulation.
  *
  * Right-side duplicate timestamps would make the match order-dependent;
  * callers should pre-aggregate the right side to one row per (key, ts)
  * (any deterministic reduction) — see `latestPerTs`.
  */
object AsOfJoin {

  /** TOLERANCE / DELTA UNITS — one rule for every form in this object,
    * DataFrame (union-LOCF) and custom-exec alike:
    *
    *  - integral time columns (long/int epochs): the column's own units;
    *  - `TimestampType` / `TimestampNTZType`: MICROSECONDS (the
    *    physical unit timestamps carry);
    *  - `DateType`: DAYS.
    *
    * `delta` is always a LONG in those units (signed
    * `matched rightTs − leftTs`), never a DayTimeInterval — raw
    * `timestamp − timestamp` column arithmetic would yield an interval
    * and make `delta <= tolerance` type-invalid, so every subtraction
    * below goes through [[tsAsLong]]. `TimestampNTZType` is converted
    * via the SESSION TIME ZONE; across a DST transition the two ends
    * can differ by the offset change — prefer `TimestampType` or epoch
    * longs when that matters. The custom exec compares the same units
    * natively (micros-as-long for timestamps, days-as-int for dates),
    * so both formulations agree; AsOfJoinExecSpec pins the parity for
    * long epochs, timestamp columns (micros), and dates (days).
    */
  private def tsAsLong(c: Column,
                       dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(c)
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.DateType =>
        datediff(c, to_date(lit("1970-01-01"))).cast("long")
      case _ => c.cast("long")
    }

  /** One deterministic right row per (key, ts): max payload value wins. */
  def latestPerTs(right: DataFrame, on: Seq[String], tsCol: String,
                  payloadCol: String): DataFrame =
    right.groupBy((on :+ tsCol).map(col): _*)
      .agg(max(col(payloadCol)).as(payloadCol))

  /** Backward as-of join (left join semantics: unmatched left rows keep
    * null right columns).
    *
    * @param on           equi-key columns (both sides)
    * @param leftTs       left event-time column (numeric/orderable)
    * @param rightTs      right event-time column
    * @param rightPayload right columns to carry onto left rows
    * @param tolerance    optional max allowed (leftTs - rightTs); matches
    *                     older than this become null (as-of with expiry)
    */
  def asofBackward(left: DataFrame, right: DataFrame, on: Seq[String],
                   leftTs: String, rightTs: String,
                   rightPayload: Seq[String],
                   tolerance: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.filterNot(c => on.contains(c) || c == leftTs)
    // timestamps keep their native (numeric/orderable) type — casting to
    // long would truncate fractional timestamps and corrupt both the
    // match order and the tolerance arithmetic. Left and right ts types
    // must be union-compatible (caller aligns them).
    val tsType = right.schema(rightTs).dataType
    // the right row rides as ONE struct so the LOCF is atomic — carrying
    // ts and payload in separate last(ignoreNulls) columns would pair a
    // newer match timestamp with an older non-null payload whenever a
    // right payload value is null.
    val l2 = left.select(
      on.map(col) ++
        Seq(col(leftTs).as("_t"), lit(1).as("_side"),
            lit(null).cast(org.apache.spark.sql.types.StructType(
              org.apache.spark.sql.types.StructField("_rt", tsType) +:
              rightPayload.map(c => org.apache.spark.sql.types.StructField(
                c, right.schema(c).dataType))))
              .as("_r")) ++
        leftCols.map(col): _*)
    val r2 = right.select(
      on.map(col) ++
        Seq(col(rightTs).as("_t"), lit(0).as("_side"),
            struct(col(rightTs).as("_rt") +:
                   rightPayload.map(col): _*).as("_r")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy(on.map(col): _*)
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l2.unionByName(r2)
      .withColumn("_m", last(col("_r"), ignoreNulls = true).over(w))
    // tolerance in CANONICAL units (micros for timestamps, days for
    // dates, column units for epochs — see tsAsLong doc); raw ts − ts
    // would be a DayTimeInterval and the <= long comparison invalid
    val inTol: Column = tolerance
      .map(tol => col("_m").isNotNull &&
        tsAsLong(col("_t"), tsType) -
          tsAsLong(col("_m._rt"), tsType) <= tol)
      .getOrElse(col("_m").isNotNull)
    carried
      .where(col("_side") === 1)
      .select(
        on.map(col) ++ Seq(col("_t").as(leftTs)) ++ leftCols.map(col) ++
          Seq(when(inTol, col("_m._rt")).as("asof_ts")) ++
          rightPayload.map(c =>
            when(inTol, col(s"_m.$c")).as(c)): _*)
  }

  /** Backward as-of join through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.AsOfJoinExec]]): same semantics as
    * [[asofBackward]] (left-outer, latest right row with
    * `rightTs <= leftTs` per key; right one-row-per-(key, ts) for
    * determinism, non-null timestamps), different machinery — a
    * first-class logical node planned by
    * [[graft.plans.AsOfJoinStrategy]] into a co-partitioned
    * two-pointer sort-merge with O(1) match state. Unlike the
    * union-LOCF form, each side is shuffled and sorted carrying ONLY
    * its own columns and no window frame is buffered.
    *
    * Requires the strategy registered
    * ([[graft.functions.GraftExtensions]], which every engine session
    * carries). Output: all left columns,
    * then the matched right timestamp as `asof_ts` and the right
    * payload columns (right keys are projected away — they equal the
    * left's wherever matched). Key/time columns resolve by name on
    * their respective sides.
    */
  def asofMergeExec(left: DataFrame, right: DataFrame, on: Seq[String],
                    leftTs: String, rightTs: String,
                    nearest: Boolean = false,
                    tolerance: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.types.{DateType, DoubleType, FloatType,
      IntegerType, LongType, TimestampNTZType, TimestampType}
    // FLOAT KEYS REJECTED: the exec's key equality is boxed (-0.0 ≠
    // 0.0, NaN ≠ NaN) and its exchanges bypass the
    // NormalizeFloatingNumbers rule, so float/double keys would both
    // mis-partition and diverge from SQL join semantics. Fail loud at
    // the API, not wrong at runtime.
    for (k <- on; side <- Seq(left, right))
      side.schema(k).dataType match {
        case FloatType | DoubleType =>
          throw new IllegalArgumentException(
            s"asofMergeExec: floating-point join key '$k' is not " +
              "supported (boxed equality and partitioning diverge from " +
              "SQL float semantics); cast to a decimal/integral key")
        case _ => ()
      }
    if (nearest || tolerance.isDefined)
      for ((side, c) <- Seq((left, leftTs), (right, rightTs)))
        side.schema(c).dataType match {
          case LongType | IntegerType | TimestampType | TimestampNTZType
               | DateType => ()
          case other => throw new IllegalArgumentException(
            s"asofMergeExec nearest/tolerance: time column '$c' must " +
              s"be integral or timestamp, got $other")
        }
    val lp = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    // SELF-JOIN SAFETY: when both sides descend from the same scan
    // their attributes share exprIds, and the analyzer's relation
    // dedup does not know this custom node — re-alias every right
    // column (fresh exprIds) so the two sides are always disjoint.
    val rAliases = rp0.output.map(a => Alias(a, a.name)())
    val rp = Project(rAliases, rp0)
    val rAttrs = rAliases.map(_.toAttribute)
    def attr(as: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
             n: String) =
      as.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not found in ${as.map(_.name)}"))
    val plan = graft.plans.AsOfJoinPlan(lp, rp,
      on.map(attr(lp.output, _)), on.map(attr(rAttrs, _)),
      attr(lp.output, leftTs), attr(rAttrs, rightTs),
      nearest, tolerance)
    // the join's right outputs (nullable clones, same exprIds):
    // project keys away, alias the matched ts
    val rightOut = plan.output.drop(lp.output.length)
    val keep = rightOut.filterNot(a => on.contains(a.name)).map { a =>
      if (a.name == rightTs) Alias(a, "asof_ts")() else a
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(left.sparkSession,
      Project(lp.output ++ keep, plan))
  }

  /** [[asofNearest]] through the CUSTOM PHYSICAL OPERATOR: same
    * semantics (closest right row within ±`tolerance`, equidistant
    * ties backward, left-outer), same output shape incl. the signed
    * `delta` = matched rightTs − leftTs — but via the co-partitioned
    * two-pointer exec, which needs NO lookahead buffer for "nearest"
    * (the un-consumed right cursor is already the forward candidate)
    * and, unlike the union-LOCF form, shuffles each side carrying
    * only its own columns with no window frame buffered.
    */
  def asofNearestExec(left: DataFrame, right: DataFrame, on: Seq[String],
                      leftTs: String, rightTs: String,
                      tolerance: Long): DataFrame = {
    require(tolerance >= 0, "tolerance must be >= 0")
    val leftCols = left.columns.filterNot(c => on.contains(c) || c == leftTs)
    val payload = right.columns.filterNot(c => on.contains(c) || c == rightTs)
    val lDt = left.schema(leftTs).dataType
    val rDt = right.schema(rightTs).dataType
    asofMergeExec(left, right, on, leftTs, rightTs,
        nearest = true, tolerance = Some(tolerance))
      .select(on.map(col) ++ Seq(col(leftTs)) ++ leftCols.map(col) ++
        Seq(col("asof_ts"),
          // LONG delta in the canonical units tolerance uses (tsAsLong
          // doc) — raw ts − ts would be a DayTimeInterval and diverge
          // from the union-LOCF form's delta
          (tsAsLong(col("asof_ts"), rDt) -
            tsAsLong(col(leftTs), lDt)).as("delta")) ++
        payload.map(col): _*)
  }

  /** NEAREST as-of join: attach the right row closest in time in
    * EITHER direction within `tolerance`, ties (equidistant before/
    * after) breaking backward — "the sensor reading nearest this
    * event", where backward-only drops every left row that precedes
    * its first right row. Spark has no built-in for this either.
    *
    * Same union-LOCF formulation as [[asofBackward]], run in BOTH
    * directions over ONE shuffle: the key-group sort serves an
    * ascending carry (previous right row) and a descending carry (next
    * right row) as two window passes over the same exchange — still
    * linear per key group, never the quadratic theta join. Right rows
    * at the exact left timestamp count as the backward match (Δ = 0).
    * Right side must be one row per (key, ts) ([[latestPerTs]]).
    *
    * Output: left + `asof_ts` + payload + `delta` (signed
    * rightTs − leftTs of the winner; NULL when nothing is in
    * tolerance).
    */
  def asofNearest(left: DataFrame, right: DataFrame, on: Seq[String],
                  leftTs: String, rightTs: String,
                  rightPayload: Seq[String],
                  tolerance: Long): DataFrame = {
    require(tolerance >= 0, "tolerance must be >= 0")
    val leftCols = left.columns.filterNot(c => on.contains(c) || c == leftTs)
    val tsType = right.schema(rightTs).dataType
    val rStruct = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("_rt", tsType) +:
      rightPayload.map(c => org.apache.spark.sql.types.StructField(
        c, right.schema(c).dataType)))
    val l2 = left.select(
      on.map(col) ++
        Seq(col(leftTs).as("_t"), lit(1).as("_side"),
            lit(null).cast(rStruct).as("_r")) ++
        leftCols.map(col): _*)
    val r2 = right.select(
      on.map(col) ++
        Seq(col(rightTs).as("_t"), lit(0).as("_side"),
            struct(col(rightTs).as("_rt") +:
                   rightPayload.map(col): _*).as("_r")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    // ascending pass: latest right at or before; descending pass: the
    // reversed order makes "next right at or after" a LOCF too. Both
    // windows share the exchange (same partition keys).
    val wPrev = Window.partitionBy(on.map(col): _*)
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(on.map(col): _*)
      .orderBy(col("_t").desc, col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l2.unionByName(r2)
      .withColumn("_mp", last(col("_r"), ignoreNulls = true).over(wPrev))
      .withColumn("_mn", last(col("_r"), ignoreNulls = true).over(wNext))
    // canonical-unit longs (see tsAsLong doc): micros for timestamps,
    // days for dates, column units for integral epochs
    val dPrev = tsAsLong(col("_t"), tsType) -
      tsAsLong(col("_mp._rt"), tsType)   // >= 0
    val dNext = tsAsLong(col("_mn._rt"), tsType) -
      tsAsLong(col("_t"), tsType)   // >= 0
    val okPrev = col("_mp").isNotNull && dPrev <= tolerance
    val okNext = col("_mn").isNotNull && dNext <= tolerance
    // backward wins ties (dPrev <= dNext keeps the backward row)
    val takePrev = okPrev && (!okNext || dPrev <= dNext)
    val takeNext = okNext && !takePrev
    val win = when(takePrev, col("_mp")).when(takeNext, col("_mn"))
    val delta = when(takePrev, -dPrev).when(takeNext, dNext)
    carried
      .where(col("_side") === 1)
      .select(
        on.map(col) ++ Seq(col("_t").as(leftTs)) ++ leftCols.map(col) ++
          Seq(win.getField("_rt").as("asof_ts"), delta.as("delta")) ++
          rightPayload.map(c => win.getField(c).as(c)): _*)
  }
}
