package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkTestBase {
  import spark.implicits._

  private val trades = Seq( // (sym, t, qty)
    ("A", 10L, 1), ("A", 20L, 2), ("A", 5L, 3), ("B", 10L, 4))
    .toDF("sym", "t", "qty")
  private val quotes = Seq( // (sym, qt, px)
    ("A", 8L, 1.0), ("A", 10L, 2.0), ("A", 15L, 3.0), ("B", 99L, 9.0))
    .toDF("sym", "qt", "px")

  test("backward as-of picks latest quote at-or-before trade time") {
    val got = AsOfJoin.asofBackward(trades, quotes, Seq("sym"), "t", "qt",
        Seq("px"))
      .select($"sym", $"t", $"qty", $"asof_ts", $"px")
      .as[(String, Long, Int, Option[Long], Option[Double])]
      .collect().map(r => (r._1, r._2) -> (r._4, r._5)).toMap
    assert(got(("A", 10L)) == (Some(10L), Some(2.0))) // tie: inclusive
    assert(got(("A", 20L)) == (Some(15L), Some(3.0)))
    assert(got(("A", 5L)) == (None, None))            // nothing before
    assert(got(("B", 10L)) == (None, None))           // quote after only
  }

  test("tolerance expires stale matches") {
    val got = AsOfJoin.asofBackward(trades, quotes, Seq("sym"), "t", "qt",
        Seq("px"), tolerance = Some(3L))
      .select($"sym", $"t", $"px").as[(String, Long, Option[Double])]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("A", 10L)) == Some(2.0)) // gap 0 ≤ 3
    assert(got(("A", 20L)) == None)      // gap 5 > 3
  }

  test("plan: custom exec node, co-partitioned sort-merge shape") {
    val df = AsOfJoin.asofBackward(trades, quotes, Seq("sym"), "t", "qt",
      Seq("px"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin ["), p) // SparkPlan strips "Exec"
    // both children shuffled on the key and sorted (key, time); no
    // union, no window
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert("Sort \\[".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("Union") && !p.contains("Window"), p)
  }

  test("floating-point join keys are rejected with a clear error") {
    val l = Seq((1.0, 10L, "a")).toDF("k", "t", "lv")
    val r = Seq((1.0, 5L, 2.0)).toDF("k", "rt", "rv")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asofBackward(l, r, Seq("k"), "t", "rt", Seq("rv"))
    }
    assert(e.getMessage.contains("floating-point join key"))
  }

  test("nearest with non-integral time column is rejected") {
    val l = Seq((1L, "x", "a")).toDF("k", "t", "lv")
    val r = Seq((1L, "y", 2.0)).toDF("k", "rt", "rv")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asofNearest(l, r, Seq("k"), "t", "rt", Seq("rv"), 5L)
    }
    assert(e.getMessage.contains("integral or timestamp"))
  }

  test("key or time types that differ across sides are rejected") {
    // one compiled ordering typed by the left side compares both sides
    val l = Seq((1, 10L, "a")).toDF("k", "t", "lv")
    val r = Seq((1L, 5L, 2.0)).toDF("k", "rt", "rv")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asofBackward(l, r, Seq("k"), "t", "rt", Seq("rv"))
    }
    assert(e.getMessage.contains("column 'k'"))
    val r2 = Seq((1, 5, 2.0)).toDF("k", "rt", "rv")
    assert(intercept[IllegalArgumentException] {
      AsOfJoin.asofBackward(l, r2, Seq("k"), "t", "rt", Seq("rv"))
    }.getMessage.contains("column 't'"))
  }

  test("null right payload stays paired with its own timestamp (atomic LOCF)") {
    val q = Seq(("A", 5L, Some(3.0)), ("A", 10L, Option.empty[Double]))
      .toDF("sym", "qt", "px")
    val l = Seq(("A", 12L, 1)).toDF("sym", "t", "qty")
    val row = AsOfJoin.asofBackward(l, q, Seq("sym"), "t", "qt", Seq("px"))
      .select($"asof_ts", $"px").as[(Option[Long], Option[Double])]
      .collect().head
    // the ct=10 row IS the match; its null payload must not be replaced
    // by the older non-null value from ct=5 (the exec carries the
    // matched right row whole)
    assert(row == (Some(10L), None))
  }

  test("latestPerTs makes right side deterministic on duplicate ts") {
    val dup = Seq(("A", 10L, 1.0), ("A", 10L, 7.0)).toDF("sym", "qt", "px")
    val r = AsOfJoin.latestPerTs(dup, Seq("sym"), "qt", "px")
      .as[(String, Long, Double)].collect().toSeq
    assert(r == Seq(("A", 10L, 7.0)))
  }

  test("asofNearest: closer side wins; equidistant breaks backward") {
    // rights at t=10 and t=20. left 13 → backward (Δ-3 beats Δ+7);
    // left 18 → forward (Δ+2); left 15 → equidistant, backward wins
    val l = Seq(("A", 13L, 1), ("A", 18L, 2), ("A", 15L, 3))
      .toDF("sym", "t", "lid")
    val r = Seq(("A", 10L, 100L), ("A", 20L, 200L))
      .toDF("sym", "rt", "rid")
    val got = AsOfJoin.asofNearest(l, r, Seq("sym"), "t", "rt",
        Seq("rid"), tolerance = 100L)
      .select($"lid", $"rid", $"delta")
      .as[(Int, Long, Long)].collect().toSet
    assert(got == Set((1, 100L, -3L), (2, 200L, 2L), (3, 100L, -5L)))
  }

  test("asofNearest: tolerance nulls both directions; forward-only left edge") {
    // left at t=1 precedes every right → forward match (backward-only
    // would drop it); left at t=500 is out of tolerance both ways
    val l = Seq(("A", 1L, 1), ("A", 500L, 2)).toDF("sym", "t", "lid")
    val r = Seq(("A", 10L, 100L)).toDF("sym", "rt", "rid")
    val got = AsOfJoin.asofNearest(l, r, Seq("sym"), "t", "rt",
        Seq("rid"), tolerance = 50L)
      .select($"lid", $"rid", $"delta")
      .as[(Int, Option[Long], Option[Long])].collect().toSet
    assert(got == Set((1, Some(100L), Some(9L)), (2, None, None)))
  }

  test("asofNearest: right row at the exact left ts is the backward match") {
    val l = Seq(("A", 10L, 1)).toDF("sym", "t", "lid")
    val r = Seq(("A", 10L, 100L), ("A", 11L, 200L)).toDF("sym", "rt", "rid")
    val got = AsOfJoin.asofNearest(l, r, Seq("sym"), "t", "rt",
        Seq("rid"), tolerance = 5L)
      .select($"rid", $"delta").as[(Long, Long)].collect().head
    assert(got == ((100L, 0L)))
  }

  // ---- brute-force reference: every left row scans its key's right
  // rows in memory; `rights` is one row per (key, ts) ----

  private type L = (Long, Long, Long)    // (k, t, lid)
  private type R = (Long, Long, Double)  // (k, rt, rv)

  /** Latest right at or before t within `tol`: (asof_ts, rv). */
  private def bruteBackward(ls: Seq[L], rs: Seq[R], tol: Option[Long])
      : Map[Long, Option[(Long, Double)]] = {
    val byK = rs.groupBy(_._1)
    ls.map { case (k, t, lid) =>
      lid -> byK.getOrElse(k, Nil)
        .filter(r => r._2 <= t && tol.forall(t - r._2 <= _))
        .sortBy(_._2).lastOption.map(r => (r._2, r._3))
    }.toMap
  }

  /** Closest right within ±tol, equidistant ties backward:
    * (asof_ts, delta = rt − t, rv).
    */
  private def bruteNearest(ls: Seq[L], rs: Seq[R], tol: Long)
      : Map[Long, Option[(Long, Long, Double)]] = {
    val byK = rs.groupBy(_._1)
    ls.map { case (k, t, lid) =>
      lid -> byK.getOrElse(k, Nil)
        .filter(r => math.abs(r._2 - t) <= tol)
        // smallest |Δ| first; on a tie the backward row (Δ ≤ 0) wins
        .sortBy(r => (math.abs(r._2 - t), r._2 > t)).headOption
        .map(r => (r._2, r._2 - t, r._3))
    }.toMap
  }

  private def randomSides(seed: Int, nl: Int, nr: Int, keys: Int,
                          span: Int): (Seq[L], Seq[R]) = {
    val rnd = new scala.util.Random(seed)
    val ls = (1 to nl).map(i =>
      (rnd.nextInt(keys).toLong, rnd.nextInt(span).toLong, i.toLong))
    // one row per (key, ts): the determinism contract (latestPerTs)
    val rs = (1 to nr).map(i =>
        (rnd.nextInt(keys + 5).toLong, rnd.nextInt(span).toLong, i.toDouble))
      .groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._3)).toSeq
    (ls, rs)
  }

  private def nearestRows(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Option[(Long, Long, Double)]] =
    df.select($"lid", $"asof_ts", $"delta", $"rv")
      .as[(Long, Option[Long], Option[Long], Option[Double])].collect()
      .map { case (lid, ts, d, rv) =>
        lid -> ts.map(x => (x, d.get, rv.get)) }.toMap

  test("randomized backward with tolerance matches brute force") {
    val (ls, rs) = randomSides(23, 2000, 800, 20, 1000)
    val l = ls.toDF("k", "t", "lid")
    val r = rs.toDF("k", "rt", "rv")
    for (tol <- Seq(None, Some(0L), Some(7L), Some(50L))) {
      val got = AsOfJoin.asofBackward(l, r, Seq("k"), "t", "rt", Seq("rv"),
          tolerance = tol)
        .select($"lid", $"asof_ts", $"rv")
        .as[(Long, Option[Long], Option[Double])].collect()
        .map { case (lid, ts, rv) => lid -> ts.map(x => (x, rv.get)) }
        .toMap
      val want = bruteBackward(ls, rs, tol)
      assert(got == want, s"tol=$tol")
      assert(want.values.exists(_.isDefined) &&
        want.values.exists(_.isEmpty), s"tol=$tol covers both outcomes")
    }
  }

  test("randomized nearest matches brute force") {
    val (ls, rs) = randomSides(29, 1500, 600, 15, 600)
    val l = ls.toDF("k", "t", "lid")
    val r = rs.toDF("k", "rt", "rv")
    for (tol <- Seq(0L, 7L, 50L, 1000L)) {
      val got = nearestRows(AsOfJoin.asofNearest(l, r, Seq("k"), "t", "rt",
        Seq("rv"), tol))
      val want = bruteNearest(ls, rs, tol)
      assert(got == want, s"tol=$tol")
      // tol = 0 admits only Δ = 0; every wider tolerance must exercise
      // the forward direction
      assert(want.values.exists(_.isDefined) &&
        (tol == 0 || want.values.exists(_.exists(_._2 > 0))),
        s"tol=$tol exercises the match directions")
    }
  }

  test("TimestampType: tolerance and delta in microseconds") {
    // whole-second inputs: the brute force runs on seconds, the operator
    // on timestamps with a tolerance in micros — every delta must be the
    // seconds delta × 10⁶, and |delta| ≤ tolerance
    val (ls, rs) = randomSides(31, 800, 400, 10, 600)
    val l = ls.toDF("k", "sec", "lid")
      .select($"k", timestamp_seconds($"sec").as("t"), $"lid")
    val r = rs.toDF("k", "sec", "rv")
      .select($"k", timestamp_seconds($"sec").as("rt"), $"rv")
    for (tolSec <- Seq(0L, 7L, 50L)) {
      val tol = tolSec * 1000000L
      val got = AsOfJoin.asofNearest(l, r, Seq("k"), "t", "rt", Seq("rv"),
          tol)
        .select($"lid", unix_seconds($"asof_ts"), $"delta", $"rv")
        .as[(Long, Option[Long], Option[Long], Option[Double])].collect()
      val deltas = got.flatMap(_._3)
      assert(deltas.nonEmpty && deltas.forall(d =>
        math.abs(d) <= tol && d % 1000000L == 0),
        s"delta units broke at tol=$tol")
      val want = bruteNearest(ls, rs, tolSec).map { case (lid, m) =>
        lid -> m.map { case (ts, d, rv) => (ts, d * 1000000L, rv) } }
      assert(got.map { case (lid, ts, d, rv) =>
        lid -> ts.map(x => (x, d.get, rv.get)) }.toMap == want,
        s"tol=$tol micros")
    }
  }

  test("TimestampNTZType agrees with TimestampType under UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val (ls, rs) = randomSides(37, 400, 200, 8, 500)
    def run(tsType: String) = {
      val l = ls.toDF("k", "sec", "lid")
        .select($"k", timestamp_seconds($"sec").cast(tsType).as("t"),
          $"lid")
      val r = rs.toDF("k", "sec", "rv")
        .select($"k", timestamp_seconds($"sec").cast(tsType).as("rt"),
          $"rv")
      AsOfJoin.asofNearest(l, r, Seq("k"), "t", "rt", Seq("rv"),
          30L * 1000000L)
        .select($"lid", $"asof_ts".cast("string"), $"delta", $"rv")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
    }
    val ntz = run("timestamp_ntz")
    assert(ntz == run("timestamp") && ntz.exists(!_.contains("null")))
  }

  test("DateType tolerance counts days") {
    val l = Seq((1L, "2024-01-10", "in"), (1L, "2024-02-10", "stale"),
        (1L, "2024-01-06", "before"))
      .toDF("k", "d", "lv")
      .select($"k", to_date($"d").as("t"), $"lv")
    val r = Seq((1L, "2024-01-08", 1.0)).toDF("k", "d", "rv")
      .select($"k", to_date($"d").as("rt"), $"rv")
    // backward: Δ = 2 days (within 5) matches; Δ = 33 days expires
    val back = AsOfJoin.asofBackward(l, r, Seq("k"), "t", "rt", Seq("rv"),
        tolerance = Some(5L))
      .select($"lv", $"asof_ts".cast("string"))
      .as[(String, Option[String])].collect().toMap
    assert(back == Map("in" -> Some("2024-01-08"), "stale" -> None,
      "before" -> None))
    // nearest: delta is a day count, signed rt − t
    val near = AsOfJoin.asofNearest(l, r, Seq("k"), "t", "rt", Seq("rv"),
        tolerance = 5L)
      .select($"lv", $"delta").as[(String, Option[Long])].collect().toMap
    assert(near == Map("in" -> Some(-2L), "stale" -> None,
      "before" -> Some(2L)))
  }

  test("empty right side: every left row survives with nulls") {
    val l = Seq((1L, 10L, 7L), (2L, 20L, 8L)).toDF("k", "t", "lid")
    val r = Seq.empty[R].toDF("k", "rt", "rv")
    val back = AsOfJoin.asofBackward(l, r, Seq("k"), "t", "rt", Seq("rv"))
      .select($"lid", $"asof_ts", $"rv")
      .as[(Long, Option[Long], Option[Double])].collect().toSet
    assert(back == Set((7L, None, None), (8L, None, None)))
    assert(nearestRows(AsOfJoin.asofNearest(l, r, Seq("k"), "t", "rt",
      Seq("rv"), 100L)) == Map(7L -> None, 8L -> None))
  }

  test("NULL right key never matches") {
    // a NULL right key must not pair with any left key — in particular
    // not with 0, the default a null long slot would read as
    import org.apache.spark.sql.types._
    val l = Seq((0L, 10L, 1L), (1L, 10L, 2L)).toDF("k", "t", "lid")
    assert(!l.schema("k").nullable)
    val r = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, 5L, 9.0),
        org.apache.spark.sql.Row(1L: java.lang.Long, 5L, 2.0)),
      StructType(Seq(
        StructField("k", LongType, nullable = true),
        StructField("rt", LongType, nullable = false),
        StructField("rv", DoubleType, nullable = false))))
    val back = AsOfJoin.asofBackward(l, r, Seq("k"), "t", "rt", Seq("rv"))
      .select($"lid", $"rv").as[(Long, Option[Double])].collect().toMap
    assert(back == Map(1L -> None, 2L -> Some(2.0)))
    assert(nearestRows(AsOfJoin.asofNearest(l, r, Seq("k"), "t", "rt",
      Seq("rv"), 100L)) == Map(1L -> None, 2L -> Some((5L, -5L, 2.0))))
  }

  test("result is invariant to input partitioning") {
    val l = (1 to 500).map(i => ((i % 7).toLong, (i * 13 % 100).toLong,
      i.toLong)).toDF("k", "t", "lid")
    val r = (1 to 200).map(i => ((i % 9).toLong, (i * 7 % 100).toLong,
      i.toDouble)).toDF("k", "rt", "rv")
      .groupBy("k", "rt").agg(max($"rv").as("rv"))
    def run(lp: Int, rp: Int) = {
      val (l2, r2) = (l.repartition(lp), r.repartition(rp))
      Seq(
        AsOfJoin.asofBackward(l2, r2, Seq("k"), "t", "rt", Seq("rv")),
        AsOfJoin.asofNearest(l2, r2, Seq("k"), "t", "rt", Seq("rv"), 5L))
        .map(_.collect().map(_.toString).sorted.toSeq)
    }
    assert(run(2, 5) == run(7, 1))
  }
}
