package graft

import org.apache.spark.sql.functions._

/** Property tests pinning that independent formulations of the same
  * operator agree on random inputs — the engine's internal consistency
  * net: window sessionization vs the interval-union Aggregator vs the
  * built-in session_window, the as-of join vs a brute-force reference,
  * and driver union-find vs star contraction.
  */
class CrossFormulationSpec extends SparkTestBase {
  import spark.implicits._

  test("three sessionization formulations agree on random event sets") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val gap = Seq(10L, 100L, 1000L)(trial % 3)
      val events = Seq.fill(300)((rnd.nextInt(8).toLong,
        rnd.nextLong(5000))).distinct
      val df = events.toDF("k", "t")

      val win = operators.Sessionize.sessionizeEvents(df, Seq("k"), "t", gap)
        .select($"k", $"sess_start", $"sess_end", $"n_rows")
        .as[(Long, Long, Long, Long)].collect().toSet

      val iu = udaf(functions.IntervalUnionAgg(gap))
      val agg = df.groupBy($"k")
        .agg(iu($"t", $"t", lit(1L)).as("ivs"))
        .select($"k", explode($"ivs").as("iv"))
        .select($"k", $"iv.start", $"iv.end", $"iv.n")
        .as[(Long, Long, Long, Long)].collect().toSet

      assert(win == agg, s"trial=$trial window vs aggregator")

      // built-in session_window: end = last + gap (exclusive), so
      // compare on (start, n) and end - gap
      val sw = df.select($"k", timestamp_seconds($"t").as("ts"))
        .groupBy($"k", session_window($"ts", s"$gap seconds"))
        .agg(count(lit(1)).as("n"))
        .select($"k", $"session_window.start".cast("long"),
          $"session_window.end".cast("long") - gap, $"n")
        .as[(Long, Long, Long, Long)].collect().toSet
      // session_window merges events with t < prev_end+gap (end-exclusive)
      // vs our inclusive t <= prev+gap: only differs when consecutive
      // events are EXACTLY gap apart — regenerate without such pairs to
      // compare semantics on the common domain
      val exactGapPairs = events.groupBy(_._1).values.exists { es =>
        val ts = es.map(_._2).sorted
        ts.zip(ts.drop(1)).exists { case (a, b) => b - a == gap }
      }
      if (!exactGapPairs) assert(win == sw, s"trial=$trial vs session_window")
    }
  }

  test("as-of join matches brute force on random trades/quotes") {
    val rnd = new scala.util.Random(11)
    val trades = Seq.fill(200)((rnd.nextInt(5), rnd.nextLong(1000), rnd.nextInt(100)))
      .distinct.toDF("sym", "t", "qty")
    val quotesRaw = Seq.fill(150)((rnd.nextInt(5), rnd.nextLong(1000), rnd.nextDouble()))
    // deterministic right side: one row per (sym, ts)
    val quotes = quotesRaw.groupBy(q => (q._1, q._2))
      .map { case ((s, t), vs) => (s, t, vs.map(_._3).max) }.toSeq
    val quotesDf = quotes.toDF("sym", "qt", "px")

    val got = operators.AsOfJoin.asofBackward(trades, quotesDf,
        Seq("sym"), "t", "qt", Seq("px"))
      .select($"sym", $"t", $"qty", $"asof_ts", $"px")
      .as[(Int, Long, Int, Option[Long], Option[Double])]
      .collect().map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap

    val bySym = quotes.groupBy(_._1)
    trades.as[(Int, Long, Int)].collect().foreach { case (s, t, q) =>
      val expect = bySym.getOrElse(s, Seq.empty)
        .filter(_._2 <= t).sortBy(_._2).lastOption
      assert(got((s, t, q)) ==
        (expect.map(_._2), expect.map(_._3)), s"trade ($s,$t)")
    }
  }

  test("union-find and star contraction agree on random graphs") {
    // the two connected-components algorithms (driver union-find vs
    // O(log n) large/small-star contraction) must label every node
    // identically on the same edge list; 60 edges are far below the
    // heap-derived cap (>= 65,536), so connectedComponents takes the
    // union-find branch
    val rnd = new scala.util.Random(83)
    for (_ <- 1 to 4) {
      val es = Seq.fill(60)((rnd.nextLong(40), rnd.nextLong(40)))
        .toDF("a", "b")
      val uf = operators.Components.connectedComponents(es, "a", "b")
        .as[(Long, Long)].collect().toMap
      val sc = operators.Components.starContraction(es, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(uf == sc)
    }
  }
}
