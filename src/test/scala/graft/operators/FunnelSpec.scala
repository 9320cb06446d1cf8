package graft.operators

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions.col

class FunnelSpec extends SparkTestBase {
  import spark.implicits._

  test("growthAccounting: new / returning / resurrected classification") {
    // u1: days 1,2,15 → new@1, returning@2, resurrected@15 (gap 13 > 7)
    // u2: days 2,8    → new@2, returning@8 (gap 6 ≤ 7)
    // duplicate (u1, 1) row must not double-count
    val d = Seq((1L, 1L), (1L, 1L), (1L, 2L), (1L, 15L),
      (2L, 2L), (2L, 8L)).toDF("u", "day")
    val got = Funnel.growthAccounting(d, "u", "day", 7)
      .orderBy(col("day")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 1L, 1L, 0L, 0L),   // day 1: u1 new
      (2L, 2L, 1L, 1L, 0L),   // day 2: u2 new, u1 returning
      (8L, 1L, 0L, 1L, 0L),   // day 8: u2 returning
      (15L, 1L, 0L, 0L, 1L))) // day 15: u1 resurrected
  }

  private def ts(day: Int, hour: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  test("conversion: in-order within-window completion only") {
    val events = Seq(
      // u1 completes A→B→C in order, inside the window
      (1L, ts(1), "A"), (1L, ts(1, 2), "B"), (1L, ts(1, 5), "C"),
      // u2 does B BEFORE A — B after A never happens
      (2L, ts(1), "B"), (2L, ts(2), "A"),
      // u3 completes but C lands beyond the 1-day window from first A
      (3L, ts(1), "A"), (3L, ts(1, 3), "B"), (3L, ts(5), "C"),
      // u4 never starts
      (4L, ts(1), "C")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.conversion(events, "user_id", "ts", "event_type",
        Seq("A", "B", "C"), windowSec = 86400L)
      .select($"step_idx", $"step", $"n_users")
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, "A", 3L), (2, "B", 2L), (3, "C", 1L)))
  }

  test("conversion: earliest-completion — a later same-step event can't help") {
    // u1's only B is before A; a funnel that scanned any-order would
    // count it
    val events = Seq((1L, ts(2), "A"), (1L, ts(1), "B"))
      .toDF("user_id", "ts", "event_type")
    val got = Funnel.conversion(events, "user_id", "ts", "event_type",
        Seq("A", "B"), 86400L)
      .select($"step_idx", $"n_users").as[(Int, Long)].collect().toMap
    assert(got(1) == 1L && got(2) == 0L)
  }

  test("weeklyCohorts: offsets are whole weeks from the cohort Monday") {
    val events = Seq(
      (1L, ts(1)), (1L, ts(10)),   // Mon Jan 1 cohort, active wk 0 and 1
      (2L, ts(9)), (2L, ts(23)),   // Jan 8 cohort, offsets 0 and 2
      (3L, ts(9))                  // Jan 8 cohort, offset 0 only
    ).toDF("user_id", "ts")
    val got = Funnel.weeklyCohorts(events, "user_id", "ts")
      .select($"cohort_week".cast("string"), $"week_offset", $"n_users")
      .as[(String, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("2024-01-01", 0)) == 1L)
    assert(got(("2024-01-01", 1)) == 1L)
    assert(got(("2024-01-08", 0)) == 2L)
    assert(got(("2024-01-08", 2)) == 1L)
    assert(got.size == 4)
  }

  test("multiTouchLinear: equal split among in-window touches only") {
    val conv = Seq(
      (1L, 100L, 900L, 10.0),  // two touches in (50, 100] → 5.0 each
      (1L, 200L, 901L, 6.0)    // one touch in (150, 200]
    ).toDF("u", "pt", "purchase_id", "value")
    val touch = Seq(
      (1L, 95L, 800L), (1L, 99L, 801L),  // credit p900
      (1L, 151L, 802L),                  // credit p901 (boundary-in)
      (1L, 10L, 803L),                   // outside every window
      (2L, 90L, 804L)                    // wrong user
    ).toDF("u", "ct", "click_id")
    val got = Funnel.multiTouchLinear(conv, touch, Seq("u"),
        "pt", "purchase_id", "value", "ct", "click_id", window = 50L)
      .as[(Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      800L -> ((5.0, 1L)), 801L -> ((5.0, 1L)), 802L -> ((6.0, 1L))))
  }

  test("locf: nulls repair to latest prior non-null per key; leading stay") {
    val df = Seq(
      ("u", 1L, Some(1.0)), ("u", 2L, None), ("u", 3L, None),
      ("u", 4L, Some(4.0)), ("u", 5L, None),
      ("v", 1L, None) // leading null — nothing to carry
    ).toDF("k", "i", "v")
    val got = Funnel.locf(df, Seq("k"), Seq($"i"), "v", "f")
      .select($"k", $"i", $"f").as[(String, Long, Option[Double])]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("u", 2L)).contains(1.0) && got(("u", 3L)).contains(1.0))
    assert(got(("u", 5L)).contains(4.0))
    assert(got(("v", 1L)).isEmpty)
  }

  test("editDistancePairs: blocked, length-pruned, exact distances") {
    val recs = Seq(
      (1L, "smith", "b1"), (2L, "smyth", "b1"),  // dist 1, same block
      (3L, "smith", "b2"),                        // other block
      (4L, "smithsonian", "b1")                   // length gap prunes
    ).toDF("id", "name", "blk")
    val got = NearDup.editDistancePairs(recs, "id", "name", "blk", 1)
      .select($"a", $"b", $"dist").as[(Long, Long, Int)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1)))
  }

  test("editDistancePairs maxDist=2: symmetric-delete keys, exact distances") {
    val recs = Seq(
      (1L, "abcd", "b1"),   // base
      (2L, "abXd", "b1"),   // 1 substitution
      (3L, "ab", "b1"),     // 2 deletions
      (4L, "abcdef", "b1"), // 2 insertions
      (5L, "XYZW", "b1"),   // unrelated
      (6L, "abcd", "b2"),   // other block — excluded
      (7L, "abcd", "b1")    // exact duplicate → dist 0 via the self key
    ).toDF("id", "name", "blk")
    val got = NearDup.editDistancePairs(recs, "id", "name", "blk", 2)
      .select($"a", $"b", $"dist").as[(Long, Long, Int)]
      .collect().sortBy(p => (p._1, p._2)).toSeq
    // (2,4) is distance 3 (sub + 2 ins): no shared ≤2-deletion key AND
    // the banded verification would reject it — both guards agree
    assert(got == Seq((1L, 2L, 1), (1L, 3L, 2), (1L, 4L, 2), (1L, 7L, 0),
      (2L, 3L, 2), (2L, 7L, 1), (3L, 7L, 2), (4L, 7L, 2)))
  }
}
