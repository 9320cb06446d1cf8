package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.AsOfJoinPlan

/** As-of join: for every left row, attach the latest right row with
  * `right.ts <= left.ts` (backward) or the right row closest in time
  * (nearest) within the same key — the standard trades/quotes ("most
  * recent state at event time") operator, which Spark has no built-in
  * for.
  *
  * Both forms run on the engine's custom physical operator
  * ([[graft.plans.AsOfJoinExec]]): each side is hash-co-partitioned on
  * the key and sorted by (key, time) carrying only its own columns,
  * then one two-pointer pass per partition attaches the match with
  * O(1) state — SparkGA1's bucket, sort-per-bucket, streaming-pass
  * shape, linear in rows, never the quadratic range join. It replaced
  * a union + last-observation-carried-forward (LOCF) window form, which
  * sorted both sides concatenated (every row widened with the other
  * side's null slots) and buffered a running window frame. Measured on
  * a 4-vCPU host (local[4], medians of 10 interleaved reps, noop sink),
  * exec/union wall time at sf0.1 and at its 10× twin: q14 backward
  * 0.80/0.82, q134 0.86/0.76, q162 point-in-time 0.98/0.95, q178
  * 0.96/0.88, q181 nearest 0.63/0.67; identical rows everywhere.
  *
  * Right-side duplicate timestamps would make the match order-dependent;
  * callers should pre-aggregate the right side to one row per (key, ts)
  * (any deterministic reduction) — see `latestPerTs`.
  */
object AsOfJoin {

  /** TOLERANCE / DELTA UNITS: integral time columns use their own
    * units, `TimestampType`/`TimestampNTZType` MICROSECONDS, `DateType`
    * DAYS. The exec compares tolerance natively in them; `delta` is a
    * LONG in the same units via this function (raw `ts − ts` would be a
    * DayTimeInterval). `TimestampNTZType` converts via the session time
    * zone (UTC in engine sessions): under a DST zone, a delta across a
    * transition differs from the raw micros by the offset change.
    */
  private def tsAsLong(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case DateType => datediff(c, to_date(lit("1970-01-01"))).cast("long")
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
    * @param on           equi-key columns (both sides, same types;
    *                     floating-point keys are rejected)
    * @param leftTs       left event-time column (orderable)
    * @param rightTs      right event-time column (same type as leftTs)
    * @param rightPayload right columns to carry onto left rows
    * @param tolerance    optional max allowed (leftTs - rightTs); matches
    *                     older than this become null (as-of with expiry).
    *                     Needs an integral or timestamp time column.
    *
    * Output: every left column, then the matched right time as
    * `asof_ts`, then `rightPayload`.
    */
  def asofBackward(left: DataFrame, right: DataFrame, on: Seq[String],
                   leftTs: String, rightTs: String,
                   rightPayload: Seq[String],
                   tolerance: Option[Long] = None): DataFrame =
    merge(left, right, on, leftTs, rightTs, rightPayload,
      nearest = false, tolerance)

  /** NEAREST as-of join: attach the right row closest in time in
    * EITHER direction within `tolerance`, ties (equidistant before/
    * after) breaking backward — "the sensor reading nearest this
    * event", where backward-only drops every left row that precedes
    * its first right row. Spark has no built-in for this either.
    *
    * Right rows at the exact left timestamp count as the backward match
    * (Δ = 0). Right side must be one row per (key, ts) ([[latestPerTs]]).
    *
    * Output: left + `asof_ts` + payload + `delta` (signed
    * rightTs − leftTs of the winner, units per [[tsAsLong]]; NULL when
    * nothing is in tolerance).
    */
  def asofNearest(left: DataFrame, right: DataFrame, on: Seq[String],
                  leftTs: String, rightTs: String,
                  rightPayload: Seq[String],
                  tolerance: Long): DataFrame = {
    require(tolerance >= 0, "tolerance must be >= 0")
    merge(left, right, on, leftTs, rightTs, rightPayload,
        nearest = true, Some(tolerance))
      .withColumn("delta",
        tsAsLong(col("asof_ts"), right.schema(rightTs).dataType) -
          tsAsLong(col(leftTs), left.schema(leftTs).dataType))
  }

  /** Builds the [[graft.plans.AsOfJoinPlan]] node over `left` and
    * `right` projected to `on ++ rightTs ++ rightPayload`; every engine
    * session plans it through [[graft.plans.AsOfJoinStrategy]]
    * ([[graft.functions.GraftExtensions]]). Key/time columns resolve by
    * name on their respective sides.
    */
  private def merge(left: DataFrame, right: DataFrame, on: Seq[String],
                    leftTs: String, rightTs: String,
                    rightPayload: Seq[String], nearest: Boolean,
                    tolerance: Option[Long]): DataFrame = {
    // the exec compares a left (keys…, time) prefix against a right one
    // with ONE compiled ordering typed by the left side, so the two
    // sides' key and time types must be identical
    for ((l, r) <- on.zip(on) :+ ((leftTs, rightTs))) {
      val (lt, rt) = (left.schema(l).dataType, right.schema(r).dataType)
      require(lt == rt, s"as-of join: column '$l' is $lt on the left " +
        s"but '$r' is $rt on the right; cast one side")
    }
    // FLOAT KEYS REJECTED: the exec's exchanges bypass the
    // NormalizeFloatingNumbers rule, so -0.0/0.0 and NaN would
    // mis-partition and diverge from SQL join semantics
    for (k <- on
         if Seq(FloatType, DoubleType).contains(left.schema(k).dataType))
      throw new IllegalArgumentException(s"as-of join: floating-point " +
        s"join key '$k' is not supported; cast to a decimal/integral key")
    if (nearest || tolerance.isDefined)
      left.schema(leftTs).dataType match {
        case LongType | IntegerType | TimestampType | TimestampNTZType
             | DateType => ()
        case other => throw new IllegalArgumentException(
          s"as-of nearest/tolerance: time column '$leftTs' must " +
            s"be integral or timestamp, got $other")
      }
    val lp = left.queryExecution.analyzed
    // SELF-JOIN SAFETY: when both sides descend from the same scan
    // their attributes share exprIds, and the analyzer's relation
    // dedup does not know this custom node — re-alias every right
    // column (fresh exprIds) so the two sides are always disjoint.
    val rp = right.select(
      (on ++ (rightTs +: rightPayload)).map(c => col(c).as(c)): _*)
      .queryExecution.analyzed
    val rAttrs = rp.output
    def attr(as: Seq[Attribute], n: String) =
      as.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not found in ${as.map(_.name)}"))
    val plan = AsOfJoinPlan(lp, rp,
      on.map(attr(lp.output, _)), on.map(attr(rAttrs, _)),
      attr(lp.output, leftTs), attr(rAttrs, rightTs),
      nearest, tolerance)
    // the join's right outputs (nullable clones, same exprIds): project
    // the keys away, alias the matched ts
    val rightOut = plan.output.drop(lp.output.length).drop(on.length)
    val keep = Alias(rightOut.head, "asof_ts")() +: rightOut.tail
    GraftSqlBridge.ofRows(left.sparkSession,
      Project(lp.output ++ keep, plan))
  }
}
