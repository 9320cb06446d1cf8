package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}

/** Optimizer rule: rewrite RANGE theta joins into bucketed
  * equi-joins — the whole-plan form of
  * [[graft.operators.RangeJoin.bucketedOverlapJoin]], applied
  * AUTOMATICALLY so a user can write the natural
  * {{{ events JOIN intervals ON lo <= pt AND pt < hi }}}
  * (or the interval-overlap `a.lo <= b.hi AND b.lo <= a.hi`) and
  * still get the 100 TB plan. Without an equi conjunct Spark has
  * only BroadcastNestedLoopJoin (fine when one side broadcasts) or a
  * cartesian product (never fine); this rule explodes interval sides
  * into the width-W buckets they cover, joins hash-on-bucket, and
  * re-applies the exact original predicate above the join. Two
  * shapes:
  *
  *  - POINT IN INTERVAL (`lo ≤ pt ∧ pt ≤ hi`, bounds one side, point
  *    the other): only the interval side explodes; the point's
  *    bucket is unique and appears exactly once in the interval's
  *    sequence, so the match is exactly-once with no dedup step.
  *  - INTERVAL OVERLAP (`a.lo ≤ b.hi ∧ b.lo ≤ a.hi`, one bound pair
  *    per side): both sides explode, and the join keeps only the
  *    bucket holding `max(a.lo, b.lo)` — covered by both intervals
  *    of every overlapping pair — so each pair matches exactly once.
  *
  * OPT-IN: active only when `spark.graft.rangeJoin.binSize` is a
  * positive long — bin width is a data statement (interval scale)
  * the engine must not guess, and when the small side fits a
  * broadcast the BNLJ it replaces is already optimal. Scope: INNER
  * joins, integral-typed bounds (the engine's event-time joins are
  * epoch integers), any mix of strict/non-strict inequalities.
  * Inverted intervals (lo > hi) are pre-filtered — they cannot
  * satisfy the original predicate, and an unguarded descending
  * `sequence()` would fabricate buckets for them.
  *
  * Registered via [[graft.functions.GraftExtensions]]
  * (`injectOptimizerRule`), which every engine session carries. The
  * rule is idempotent: the
  * rewritten join's condition carries only equalities, which the
  * pattern cannot re-match.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  final val BinSizeKey = "spark.graft.rangeJoin.binSize"

  private case class PointBound(lo: Expression, pt: Expression,
                                hi: Expression)

  /** Canonicalize `a ≤ b` / `a < b` / reversed forms to (small, big). */
  private def asBound(e: Expression): Option[(Expression, Expression)] =
    e match {
      case LessThanOrEqual(a, b) => Some((a, b))
      case LessThan(a, b) => Some((a, b))
      case GreaterThanOrEqual(a, b) => Some((b, a))
      case GreaterThan(a, b) => Some((b, a))
      case _ => None
    }

  private def integral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // toLongOption, not toLong: a malformed conf value must disable the
    // rule, not throw inside the optimizer and fail every query on the
    // session.
    val w = SQLConf.get.getConfString(BinSizeKey, "0").toLongOption
      .getOrElse(0L)
    if (w <= 0) return plan
    plan.transformUp {
      case j @ Join(l, r, Inner, Some(cond), hint) =>
        rewrite(j, l, r, cond, hint, w).getOrElse(j)
    }
  }

  private def rewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
                      cond: Expression, hint: JoinHint,
                      w: Long): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def fromLeft(e: Expression): Boolean =
      e.references.nonEmpty && e.references.subsetOf(l.outputSet)
    def fromRight(e: Expression): Boolean =
      e.references.nonEmpty && e.references.subsetOf(r.outputSet)
    def oneSided(e: Expression): Boolean = fromLeft(e) || fromRight(e)

    // already an equi-join on some key? Catalyst handles it; the rule
    // targets joins whose ONLY cross-side links are the inequalities
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))
      case EqualNullSafe(a, b) =>
        (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))
      case _ => false
    }
    if (hasEqui) return None

    val bounds = conjuncts.flatMap(asBound)
    // deterministic: the matched expressions are duplicated into the
    // inverted-interval pre-filter, the sequence() generator, and the
    // re-applied predicate — a non-deterministic expression would be
    // evaluated multiple times with differing values.
    def eligibleExprs(es: Expression*): Boolean =
      es.forall(e => oneSided(e) && integral(e) && e.deterministic)

    // floor(a / w) in pure long arithmetic, overflow-free for EVERY
    // long including Long.MinValue: truncating division adjusted down
    // by one when the remainder is negative (w > 0, so a/w and a%w
    // never overflow — unlike the a − pmod(a, w) form, whose subtract
    // wraps for a within w of Long.MinValue, or a Double round-trip,
    // exact only below 2^53). This is Math.floorDiv as a codegen-able
    // expression tree.
    def bucketOf(e: Expression): Expression = {
      val a = Cast(e, LongType)
      val wl = Literal(w)
      val q = new IntegralDivide(a, wl)
      val r = Remainder(a, wl)
      If(And(LessThan(a, Literal(0L)), Not(EqualTo(r, Literal(0L)))),
        Subtract(q, Literal(1L)), q)
    }

    /** Explode `child` into the width-w buckets [lo..hi] covers,
      * dropping inverted intervals (they cannot satisfy the original
      * predicate, and an unguarded descending sequence() would
      * fabricate buckets for them). Sequence is TimeZoneAware: without
      * an explicit zone the optimizer-built node stays unresolved.
      */
    def explodeBuckets(child: LogicalPlan, lo: Expression,
                       hi: Expression): (LogicalPlan, Attribute) = {
      val bkt = AttributeReference("_graft_bkt", LongType,
        nullable = false)()
      val filtered = Filter(LessThanOrEqual(
        Cast(lo, LongType), Cast(hi, LongType)), child)
      (Generate(
        Explode(Sequence(bucketOf(lo), bucketOf(hi),
          Some(Literal(1L)), Some(SQLConf.get.sessionLocalTimeZone))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(bkt), child = filtered), bkt)
    }

    def finish(newL: LogicalPlan, newR: LogicalPlan,
               joinCond: Expression): LogicalPlan = {
      val newJoin = Join(newL, newR, Inner, Some(joinCond), hint)
      // the exact original predicate re-applies above the join; the
      // final project restores the original output (pruning the
      // bucket columns)
      Project(j.output, Filter(cond, newJoin))
    }

    // shape 1 -- point in interval: lo <= PT and PT <= hi with pt one
    // side, lo/hi the other. The point's bucket is unique and appears
    // exactly once in the interval's bucket sequence -> no dedup step.
    val pointHit = bounds.iterator.flatMap { case (lo, pt1) =>
      bounds.collectFirst {
        case (pt2, hi) if pt1.semanticEquals(pt2) &&
          eligibleExprs(pt1, lo, hi) &&
          (fromLeft(pt1) != fromLeft(lo)) &&
          (fromLeft(lo) == fromLeft(hi)) =>
          PointBound(lo, pt1, hi)
      }
    }.take(1).toList.headOption
    pointHit.map { case PointBound(lo, pt, hi) =>
      val ptOnLeft = fromLeft(pt)
      val ptSide = if (ptOnLeft) l else r
      val ivSide = if (ptOnLeft) r else l
      val (ivExploded, ivBkt) = explodeBuckets(ivSide, lo, hi)
      val ptBktAlias = Alias(bucketOf(pt), "_graft_pt_bkt")()
      val ptProjected = Project(ptSide.output :+ ptBktAlias, ptSide)
      val (newL, newR) =
        if (ptOnLeft) (ptProjected, ivExploded)
        else (ivExploded, ptProjected)
      finish(newL, newR, EqualTo(ivBkt, ptBktAlias.toAttribute))
    }.orElse {
      // shape 2 -- interval OVERLAP: lLo <= rHi and rLo <= lHi, each
      // bound pair from one side (the classic a.start <= b.end AND
      // b.start <= a.end). Both sides explode; a pair overlapping k
      // shared buckets would match k times, so the join keeps only
      // the bucket holding max(lLo, rLo) -- both intervals cover it
      // (it is >= both starts and <= min(lHi, rHi), the overlap
      // point), making the match exactly-once. The credit predicate
      // references both sides, so it rides the join condition, not
      // the generators.
      val overlapHit = bounds.iterator.flatMap { case (lLo, rHi) =>
        bounds.collectFirst {
          case (rLo, lHi) if eligibleExprs(lLo, rHi, rLo, lHi) &&
            !lLo.semanticEquals(rLo) &&
            (fromLeft(lLo) == fromLeft(lHi)) &&
            (fromLeft(rLo) == fromLeft(rHi)) &&
            (fromLeft(lLo) != fromLeft(rLo)) =>
            (lLo, lHi, rLo, rHi)
        }
      }.take(1).toList.headOption
      overlapHit.map { case (lo1, hi1, lo2, hi2) =>
        // orient: (aLo, aHi) from the LEFT child
        val (aLo, aHi, bLo, bHi) =
          if (fromLeft(lo1)) (lo1, hi1, lo2, hi2)
          else (lo2, hi2, lo1, hi1)
        val (lExploded, lBkt) = explodeBuckets(l, aLo, aHi)
        val (rExploded, rBkt) = explodeBuckets(r, bLo, bHi)
        val credit = EqualTo(lBkt,
          bucketOf(Greatest(Seq(Cast(aLo, LongType),
            Cast(bLo, LongType)))))
        finish(lExploded, rExploded,
          And(EqualTo(lBkt, rBkt), credit))
      }
    }
  }
}