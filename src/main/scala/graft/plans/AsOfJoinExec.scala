package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BoundReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The engine's whole-operator Catalyst extension: the as-of join as a
  * FIRST-CLASS physical operator — logical node + planner strategy +
  * sort-merge exec, registered through `SparkSessionExtensions`
  * ([[graft.functions.GraftExtensions]], on every engine session).
  * [[graft.operators.AsOfJoin.asofBackward]] and
  * [[graft.operators.AsOfJoin.asofNearest]] build it.
  *
  * The exec co-partitions the sides independently (each sort sees only
  * its own columns), then streams a two-pointer merge with O(1) state
  * per partition: the classic trades/quotes merge, at shuffle cost =
  * the two sides' own bytes. For each left row it attaches the LAST
  * right row with the same key and `rightTime <= leftTime` (right must
  * be one row per (key, time) for a deterministic match); unmatched
  * left rows keep null right columns (left-outer).
  *
  * SCOPE: the engine's only as-of join. A union + last-observation-
  * carried-forward window form served plain backward joins on a
  * local[32] probe (exec ~1.9x slower there); on a 4-vCPU host the exec
  * is faster for every caller at sf0.1 and its 10x twin (exec/union
  * 0.63-0.98, medians of 10 reps), so the window form was deleted. The
  * row-at-a-time iterator is the remaining cost; SortMergeJoin-grade
  * doProduce/doConsume codegen is the lever if it ever dominates.
  */
/** @param nearest   false = backward-only (latest right ≤ left time);
  *                  true = closest right in EITHER direction,
  *                  equidistant ties breaking backward (the
  *                  [[graft.operators.AsOfJoin.asofNearest]] semantics)
  * @param tolerance max allowed |Δtime| for a match (None =
  *                  unbounded); REQUIRED integral/timestamp time
  *                  columns when set or when `nearest` — the exec does
  *                  long arithmetic on the time field
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                        leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                        leftTime: Attribute, rightTime: Attribute,
                        nearest: Boolean = false,
                        tolerance: Option[Long] = None)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] into [[AsOfJoinExec]]; everything else falls
  * through to the built-in strategies.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, near, tol) =>
      AsOfJoinExec(lk, rk, lt, rt, near, tol,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join. EnsureRequirements satisfies the
  * declared contract: both children hash-co-partitioned on the keys
  * (ClusteredDistribution pair, the SortMergeJoin mechanism) and each
  * sorted by (keys…, time) — so `doExecute` is a pure per-partition
  * two-pointer merge: advance the right cursor while it is ≤ the left
  * row's (key, time), remembering the latest same-key row; O(n+m)
  * time, O(1) match state. Right rows are copied off the UnsafeRow
  * iterator (one live copy at a time — the candidate), left rows
  * stream through un-copied.
  *
  * NEAREST mode needs no lookahead buffer beyond the cursor itself:
  * after draining right rows ≤ the left row, the (un-consumed) cursor
  * IS the first strictly-later right row — the forward candidate —
  * and the drained latest same-key row is the backward one; the
  * closer in-tolerance side wins, equidistant ties backward.
  *
  * KEY TYPES: integral/string/etc. — FLOATING-POINT KEYS ARE REJECTED
  * at the API boundary ([[graft.operators.AsOfJoin]]): this exec's
  * children's exchanges bypass `NormalizeFloatingNumbers` (which
  * rewrites only built-in join/aggregate nodes), so -0.0/0.0 and NaN
  * would hash to different partitions and diverge from SQL equality.
  * Key and time types must be identical on both sides (checked there
  * too): one compiled ordering typed by the left side compares both.
  */
case class AsOfJoinExec(leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                        leftTime: Attribute, rightTime: Attribute,
                        nearest: Boolean, tolerance: Option[Long],
                        left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) ::
      ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    // project each side to its (keys..., time) prefix and compare the
    // two projections with ONE compiled ordering — a single codegen'd
    // compare per step instead of separate interpreted key/time
    // orderings (interpreted compares box every field; measured 5×
    // slower on a 2M-row merge)
    val lKeyGen = () =>
      UnsafeProjection.create(leftKeys :+ leftTime, left.output)
    val rKeyGen = () =>
      UnsafeProjection.create(rightKeys :+ rightTime, right.output)
    // nullability is the OR of the two sides: the same compiled ordering
    // compares a LEFT projection row against a RIGHT projection row, and
    // codegen omits null checks for slots declared non-nullable — taking
    // it from leftKeys alone let a NULL right key compare equal to the
    // type's default value when the left key was declared non-nullable
    val rightPrefix = rightKeys :+ rightTime
    val prefixOrders = (leftKeys :+ leftTime).zipWithIndex.map {
      case (a, i) =>
        SortOrder(BoundReference(i, a.dataType,
          a.nullable || rightPrefix(i).nullable), Ascending)
    }
    val ordGen = () =>
      new org.apache.spark.sql.catalyst.expressions.codegen
        .LazilyGeneratedOrdering(prefixOrders)
    // key-prefix EQUALITY as a second compiled ordering over only the
    // key fields (compare == 0), no per-row boxing; SortOrder's
    // nulls-first semantics give NULL==NULL (groupBy) equality
    val keyOrdGen = () =>
      new org.apache.spark.sql.catalyst.expressions.codegen
        .LazilyGeneratedOrdering(prefixOrders.take(leftKeys.length))
    val nKeys = leftKeys.length
    val rightWidth = right.output.length
    val outAttrs = output
    val isNearest = nearest
    // tolerance as a primitive with a no-limit sentinel: Option.forall
    // in the per-row path would box; Long.MaxValue compares never-true
    val tol: Long = tolerance.getOrElse(Long.MaxValue)
    val needTime = isNearest || tolerance.isDefined
    // the time field sits at prefix index nKeys in BOTH projections;
    // long-valued access per type (timestamps are micros-as-long in
    // UnsafeRow). Checked at the API boundary (AsOfJoin); the
    // require is defense for programmatic plan builders.
    import org.apache.spark.sql.types._
    def timeGetter(dt: DataType): UnsafeRow => Long = dt match {
      case LongType | TimestampType | TimestampNTZType => _.getLong(nKeys)
      case IntegerType | DateType => _.getInt(nKeys).toLong
      case other =>
        require(!needTime,
          s"as-of nearest/tolerance needs an integral or timestamp " +
            s"time column, got $other")
        _ => 0L
    }
    val lTimeOf = timeGetter(leftTime.dataType)
    val rTimeOf = timeGetter(rightTime.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKey = lKeyGen(); val rKey = rKeyGen()
      val ord = ordGen()
      val keyOrd = keyOrdGen()
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // the right cursor and the candidate match live in REUSED
        // buffers (copyFrom, no per-row allocation) — UnsafeRow
        // iterators recycle their backing pages, so anything held
        // across next() calls must own its bytes
        private var rCurRow: UnsafeRow = _
        private var rCurKey: UnsafeRow = _
        // seeded by .copy() on first use: copyFrom needs an existing
        // byte[] buffer (a bare new UnsafeRow(n) has none)
        private var matchRow: UnsafeRow = _
        private var matchKey: UnsafeRow = _
        private var hasMatch = false
        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            val r = rIter.next().asInstanceOf[UnsafeRow]
            if (rCurRow == null) {
              rCurRow = r.copy()
              rCurKey = rKey(rCurRow).copy()
            } else {
              rCurRow.copyFrom(r)
              rCurKey.copyFrom(rKey(rCurRow))
            }
          } else { rCurRow = null; rCurKey = null }
        advanceRight()

        /** Key-prefix EQUALITY on the projected (keys…, time) rows —
          * the time field is field nKeys and is deliberately ignored;
          * ordering between rows is ord's job, this only answers "same
          * join key". NULL keys compare equal to NULL (groupBy
          * semantics — SortOrder's nulls-first compare returns 0 for
          * NULL vs NULL). Compiled compare, no per-field boxing.
          */
        private def sameKeys(a: UnsafeRow, b: UnsafeRow): Boolean =
          keyOrd.compare(a, b) == 0

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKey(l)
          // consume right rows with (key, time) ≤ left's; the last
          // same-key one becomes the candidate match
          while (rCurRow != null && ord.compare(rCurKey, lk) <= 0) {
            if (sameKeys(rCurKey, lk)) {
              if (matchRow == null) {
                matchRow = rCurRow.copy(); matchKey = rCurKey.copy()
              } else {
                matchRow.copyFrom(rCurRow); matchKey.copyFrom(rCurKey)
              }
              hasMatch = true
            }
            advanceRight()
          }
          val lt = if (needTime) lTimeOf(lk) else 0L
          // backward candidate: latest drained same-key row, within
          // tolerance (lt − rt ≥ 0 by construction, so the subtract
          // cannot overflow for same-sign epoch times)
          val backOk = hasMatch && sameKeys(matchKey, lk) &&
            (!needTime || lt - rTimeOf(matchKey) <= tol)
          val rSide =
            if (!isNearest) { if (backOk) matchRow else nullRight }
            else {
              // forward candidate: the un-consumed cursor, iff same key
              // (its time is strictly > lt — equal times drained as
              // backward matches with Δ = 0)
              val fwdOk = rCurRow != null && sameKeys(rCurKey, lk) &&
                rTimeOf(rCurKey) - lt <= tol
              if (backOk && (!fwdOk ||
                  lt - rTimeOf(matchKey) <= rTimeOf(rCurKey) - lt))
                matchRow
              else if (fwdOk) rCurRow
              else nullRight
            }
          resultProj(joined(l, rSide))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
