package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RangeJoinRewriteSpec extends SparkTestBase {
  import spark.implicits._

  private def intervals: DataFrame =
    Seq((1L, 0L, 99L), (2L, 50L, 149L), (3L, 500L, 500L),
        (4L, 700L, 650L)) // inverted — can never match
      .toDF("iv_id", "lo", "hi")

  private def points: DataFrame =
    Seq((10L, 5L), (11L, 120L), (12L, 499L), (13L, 500L), (14L, 75L))
      .toDF("pt_id", "pt")

  private def thetaJoin: DataFrame =
    points.join(intervals, col("lo") <= col("pt") && col("pt") <= col("hi"))
      .select(col("pt_id"), col("iv_id"))

  private def withBin[A](size: Long)(f: => A): A = {
    spark.conf.set(RangeJoinRewrite.BinSizeKey, size.toString)
    try f finally spark.conf.unset(RangeJoinRewrite.BinSizeKey)
  }

  test("disabled: plan keeps the nested loop; no silent rewrite") {
    val plan = thetaJoin.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("_graft_bkt"), plan)
  }

  test("opt-in: bucketed equi-join plan, identical rows") {
    val expected = thetaJoin.collect().map(r => (r.getLong(0),
      r.getLong(1))).sorted.toSeq
    withBin(64L) {
      val q = thetaJoin // rebuilt under the conf: optimization re-runs
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(plan.contains("_graft_bkt"), plan) // the exploded buckets
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      assert(got == expected)
      assert(got.contains((13L, 3L))) // closed upper bound kept exact
      assert(!got.exists(_._2 == 4L)) // inverted interval matches nothing
    }
  }

  test("strict bounds and interval-on-left orientation both rewrite") {
    def q = intervals.join(points,
        col("lo") < col("pt") && col("pt") < col("hi"))
      .select(col("pt_id"), col("iv_id"))
    val expected = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    withBin(32L) {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("_graft_bkt"), plan)
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      assert(got == expected)
      // boundary points excluded under strict bounds
      assert(!got.contains((13L, 3L)))
    }
  }

  test("equi-keyed joins are left alone — Catalyst already hashes them") {
    val l = Seq((1L, 10L, 0L, 99L)).toDF("k", "iv_id", "lo", "hi")
    val p = Seq((1L, 20L, 50L)).toDF("k", "pt_id", "pt")
    withBin(64L) {
      val q = l.join(p, l("k") === p("k") &&
        col("lo") <= col("pt") && col("pt") <= col("hi"))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("_graft_bkt"), plan)
      assert(q.count() == 1)
    }
  }

  test("interval overlap rewrites: both sides explode, exactly-once match") {
    def q = intervals.join(
        points.select(col("pt_id"), col("pt").as("lo2"),
          (col("pt") + 40L).as("hi2")),
        col("lo") <= col("hi2") && col("lo2") <= col("hi"))
      .select(col("pt_id"), col("iv_id"))
    val expected = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    withBin(64L) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      // both sides carry the exploded bucket column
      assert("_graft_bkt".r.findAllIn(plan).length >= 2, plan)
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      assert(got == expected && got.nonEmpty)
      // exactly-once: a wide×wide overlap spanning many shared
      // buckets must not duplicate
      assert(got.distinct == got)
    }
  }

  test("overlap randomized parity across bucket widths") {
    val rnd = new scala.util.Random(17)
    val ivsA = (1 to 150).map { i =>
      val lo = rnd.nextInt(5000).toLong
      (i.toLong, lo, lo + rnd.nextInt(800).toLong)
    }.toDF("a_id", "a_lo", "a_hi")
    val ivsB = (1 to 150).map { i =>
      val lo = rnd.nextInt(5000).toLong
      (i.toLong, lo, lo + rnd.nextInt(800).toLong)
    }.toDF("b_id", "b_lo", "b_hi")
    def q = ivsA.join(ivsB,
        col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select(col("a_id"), col("b_id"))
    val naive = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    for (w <- Seq(16L, 100L, 1024L)) {
      val got = withBin(w) {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("_graft_bkt"), p)
        q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      assert(got == naive, s"bin $w")
    }
  }

  test("parity at ±2^61 bounds: long floor-division buckets are exact " +
       "beyond Double's 2^53 integer range") {
    // At |a| ≈ 2^61 a Double carries ±512 of rounding error, so a
    // Double-cast bucketOf flips buckets whenever a mod w lands within
    // that error of a bucket edge (w = 1000 → ~half the rows) and the
    // rewrite silently LOSES matches. The long floor-division form must
    // agree with the nested loop exactly, on both signs.
    val rnd = new scala.util.Random(61)
    for (base <- Seq(1L << 61, -(1L << 61))) {
      val ivs = (1 to 200).map { i =>
        val lo = base + rnd.nextInt(1000000).toLong
        (i.toLong, lo, lo + rnd.nextInt(5000).toLong)
      }.toDF("iv_id", "lo", "hi")
      val pts = (1 to 400).map(i =>
        (i.toLong, base + rnd.nextInt(1005000).toLong)).toDF("pt_id", "pt")
      def q = pts.join(ivs,
          col("lo") <= col("pt") && col("pt") <= col("hi"))
        .select(col("pt_id"), col("iv_id"))
      val naive = q.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      val rewritten = withBin(1000L) {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("_graft_bkt"), p)
        q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      assert(rewritten == naive && naive.nonEmpty, s"base $base")
    }
  }

  test("parity hard against Long.MinValue: floor-division must not wrap") {
    // the a − pmod(a, w) floor form overflows for a within w of
    // Long.MinValue (the subtract wraps past the boundary), flipping
    // those rows into a fabricated positive bucket; the truncate-and-
    // adjust form (Math.floorDiv as an expression tree) is exact for
    // every long. Intervals packed into [MinValue, MinValue + 1e6].
    val rnd = new scala.util.Random(63)
    val base = Long.MinValue
    val ivs = (1 to 150).map { i =>
      val lo = base + rnd.nextInt(1000000).toLong
      (i.toLong, lo, lo + rnd.nextInt(5000).toLong)
    }.toDF("iv_id", "lo", "hi")
    val pts = (1 to 300).map(i =>
      (i.toLong, base + rnd.nextInt(1005000).toLong)).toDF("pt_id", "pt")
    def q = pts.join(ivs,
        col("lo") <= col("pt") && col("pt") <= col("hi"))
      .select(col("pt_id"), col("iv_id"))
    val naive = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val rewritten = withBin(1000L) {
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("_graft_bkt"), p)
      q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(rewritten == naive && naive.nonEmpty)
  }

  test("non-deterministic range conjunct disables the rewrite") {
    // the rule would duplicate the expression into the pre-filter, the
    // sequence() generator, and the re-applied predicate — three
    // evaluations with three different values. The analyzer already
    // rejects non-deterministic join conditions on the public API path,
    // so drive the rule directly on a constructed plan (the guard is
    // defense-in-depth for programmatic plan builders).
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val l = points.queryExecution.analyzed
    val r = intervals.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
          n: String) = p.output.find(_.name == n).get
    val cond = And(
      LessThanOrEqual(a(r, "lo"),
        Add(a(l, "pt"), Cast(Multiply(Rand(7), Literal(0.0)),
          org.apache.spark.sql.types.LongType))),
      LessThanOrEqual(a(l, "pt"), a(r, "hi")))
    val join = Join(l, r, Inner, Some(cond),
      org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
    withBin(64L) {
      assert(RangeJoinRewrite(join).fastEquals(join))
      // sanity: the same shape WITH deterministic bounds does rewrite
      val det = Join(l, r, Inner, Some(And(
        LessThanOrEqual(a(r, "lo"), a(l, "pt")),
        LessThanOrEqual(a(l, "pt"), a(r, "hi")))),
        org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
      assert(!RangeJoinRewrite(det).fastEquals(det))
    }
  }

  test("malformed binSize conf disables the rule instead of failing the query") {
    spark.conf.set(RangeJoinRewrite.BinSizeKey, "not-a-number")
    try {
      val got = thetaJoin.collect()
      assert(got.nonEmpty)
      val plan = thetaJoin.queryExecution.executedPlan.toString
      assert(!plan.contains("_graft_bkt"), plan)
    } finally spark.conf.unset(RangeJoinRewrite.BinSizeKey)
  }

  test("randomized parity: rewritten result equals the nested-loop result") {
    val rnd = new scala.util.Random(41)
    val ivs = (1 to 300).map { i =>
      val lo = rnd.nextInt(10000).toLong
      (i.toLong, lo, lo + rnd.nextInt(500).toLong)
    }.toDF("iv_id", "lo", "hi")
    val pts = (1 to 500).map(i => (i.toLong, rnd.nextInt(11000).toLong))
      .toDF("pt_id", "pt")
    def q = pts.join(ivs,
        col("lo") <= col("pt") && col("pt") < col("hi"))
      .select(col("pt_id"), col("iv_id"))
    val naive = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val rewritten = withBin(128L) {
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("_graft_bkt"), p)
      q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(rewritten == naive && naive.nonEmpty)
  }
}
