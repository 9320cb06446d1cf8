package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class BucketizeSpec extends SparkTestBase {
  import spark.implicits._

  test("fixed-width bucket = floor(pos/width)") {
    val df = Seq((1, 0L), (1, 99L), (1, 100L), (2, 250L)).toDF("g", "pos")
    val got = df.select($"g", $"pos",
        Bucketize.bucketId($"pos", lit(100L)).as("bucket"))
      .as[(Int, Long, Int)].collect().toSet
    assert(got == Set((1, 0L, 0), (1, 99L, 0), (1, 100L, 1), (2, 250L, 2)))
  }

  test("dict-derived widths: ceil(length/n), min 1") {
    val dict = Seq(("a", 1000L), ("b", 5L), ("c", 0L)).toDF("g", "len")
    val w = Bucketize.widths(dict, "g", "len", 10)
      .as[(String, Long)].collect().toMap
    assert(w == Map("a" -> 100L, "b" -> 1L, "c" -> 1L))
  }
}

class FiltersSpec extends SparkTestBase {
  import spark.implicits._

  test("maskClear keeps rows where (flags & mask) == 0") {
    val df = (0 to 15).toDF("f")
    val clear = df.where(Filters.maskClear($"f", 4)).as[Int].collect().toSet
    assert(clear == (0 to 15).filter(i => (i & 4) == 0).toSet)
  }
}

class SessionizeSpec extends SparkTestBase {
  import spark.implicits._

  /** brute-force interval union with gap tolerance */
  private def bruteMerge(iv: Seq[(Long, Long)], gap: Long)
      : Seq[(Long, Long)] =
    iv.sorted.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (s, e)) =>
      acc.lastOption match {
        case Some((ls, le)) if s <= le + gap =>
          acc.init :+ (ls, math.max(le, e))
        case _ => acc :+ (s, e)
      }
    }

  private def randomIntervals(seed: Int, n: Int, span: Int, maxLen: Int)
      : Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n) {
      val s = rng.nextInt(span).toLong; (s, s + rng.nextInt(maxLen)) }
  }

  test("burstCollapse keeps burst heads only; ties fold into the head") {
    val ev = Seq(
      // key k: bursts {0,3}, {10}, {20,20,24} with gap 5
      ("k", 1L, 0L), ("k", 2L, 3L), ("k", 3L, 10L),
      ("k", 4L, 20L), ("k", 5L, 20L), ("k", 6L, 24L),
      ("j", 7L, 0L)
    ).toDF("g", "id", "t")
    val kept = Sessionize.burstCollapse(ev, Seq("g"), "t", "id", 5L)
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 7L))
  }

  test("window coalescing matches brute-force union (property)") {
    for (seed <- 1 to 8) {
      val iv0 = randomIntervals(seed, 60, 500, 60)
      val df = iv0.toDF("s", "e").withColumn("k", lit(1))
      val got = Sessionize.coalesceIntervals(df, Seq("k"), "s", "e", 51L)
        .select($"sess_start", $"sess_end")
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == bruteMerge(iv0, 51L), s"seed=$seed")
    }
  }

  test("aggregator union matches brute-force union (property)") {
    for (seed <- 1 to 8) {
      val iv0 = randomIntervals(seed + 100, 40, 300, 40)
      val agg = new graft.functions.IntervalUnionAgg(51L).toColumn
      val got = iv0.map { case (s, e) => graft.functions.Iv(s, e, 1L) }
        .toDS().select(agg).head()
      assert(got.map(iv => (iv.start, iv.end)).sorted ==
        bruteMerge(iv0, 51L), s"seed=$seed")
    }
  }

  test("point sessionization splits on gap only") {
    val df = Seq((1L, 0L), (1L, 10L), (1L, 100L), (2L, 5L))
      .toDF("u", "t")
    val got = Sessionize.sessionizeEvents(df, Seq("u"), "t", 30L)
      .select($"u", $"sess_start", $"sess_end", $"n_rows")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 0L, 10L, 2L), (1L, 100L, 100L, 1L),
                      (2L, 5L, 5L, 1L)))
  }
}

class SkewSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedJoin equals the plain join") {
    val big = (1 to 2000).map(i => (i % 5, i)).toDF("k", "v")
    val small = Seq((0, "a"), (1, "b"), (2, "c"), (3, "d"), (4, "e"))
      .toDF("k", "name")
    val plain = big.join(small, Seq("k")).groupBy($"name").count()
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedJoin(big, small, Seq("k"), 8)
      .groupBy($"name").count().as[(String, Long)].collect().toMap
    assert(plain == salted)
  }

  test("saltedJoin with TRUE-duplicate hot rows: correct, one bucket") {
    // 1,000 fully identical rows of the hot key: the all-columns salt
    // maps them to ONE bucket (documented caveat — determinism beats
    // spreading literal duplicates), and the join must still multiply
    // them correctly
    val big = ((1 to 1000).map(_ => (1, 7)) ++ Seq((2, 8))).toDF("k", "v")
    val small = Seq((1, "hot"), (2, "cold")).toDF("k", "name")
    val salted = Skew.saltedJoin(big, small, Seq("k"), 8)
    val counts = salted.groupBy($"name").count()
      .as[(String, Long)].collect().toMap
    assert(counts == Map("hot" -> 1000L, "cold" -> 1L))
    // the caveat itself: identical rows share one deterministic salt
    val hotSalts = big.where($"k" === 1)
      .withColumn("_salt", pmod(hash($"k", $"v"), lit(8)))
      .select($"_salt").distinct().count()
    assert(hotSalts == 1L)
  }

  test("ntile split is equal-frequency within +-1") {
    val df = (1 to 103).map(i => ("k", i)).toDF("k", "v")
    val sizes = Skew.ntileSplit(df, Seq("k"), 4, Seq("v"))
      .groupBy($"segment").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.max - sizes.values.min <= 1)
    assert(sizes.values.sum == 103L)
  }

  test("ntileSplit orderBuckets path is bit-identical to the window") {
    // ties on the head order column (i/7), a unique tie-break, two
    // keys with different sizes (103 and 40: 103 % 4 != 0 exercises
    // the ceil-then-floor tile sizes), NULL head values (sort first,
    // bucket 1), and n > tiny-key-count via key "c" (2 rows, 4 tiles)
    val rows = (1 to 103).map(i => ("a", Option(i / 7), i)) ++
      (1 to 40).map(i => ("b", Option(i / 3), i)) ++
      Seq(("a", None, 200), ("a", None, 201), ("c", Option(1), 1),
        ("c", Option(2), 2))
    val df = rows.toDF("k", "v", "tie")
    val single = Skew.ntileSplit(df, Seq("k"), 4, Seq("v", "tie"))
      .as[(String, Option[Int], Int, Int)].collect().toSet
    val bucketed = Skew.ntileSplit(df, Seq("k"), 4, Seq("v", "tie"),
        orderBuckets = 5)
      .as[(String, Option[Int], Int, Int)].collect().toSet
    assert(bucketed == single)
  }

  test("ntileSplit AutoBuckets: window for tiny input, bucketed " +
      "above the byte threshold, both identical") {
    val df = (1 to 120).map(i => ("k", i / 7, i)).toDF("k", "v", "tie")
    val single = Skew.ntileSplit(df, Seq("k"), 4, Seq("v", "tie"))
    // default threshold (8 MB): a 120-row frame resolves to ONE bucket
    // = the plain window plan (ntile window function present)
    val auto = Skew.ntileSplit(df, Seq("k"), 4, Seq("v", "tie"),
      orderBuckets = Skew.AutoBuckets)
    // "ntile(4)" not bare "ntile": percentile_approx contains "ntile"
    assert(auto.queryExecution.optimizedPlan.toString
      .contains("ntile(4)"))
    assert(auto.collect().toSet == single.collect().toSet)
    // 1-byte threshold: auto resolves to the bucketed path (no ntile
    // window function in the plan) and stays bit-identical
    spark.conf.set("spark.graft.ntile.bytesPerBucket", "1")
    try {
      val forced = Skew.ntileSplit(df, Seq("k"), 4, Seq("v", "tie"),
        orderBuckets = Skew.AutoBuckets)
      assert(!forced.queryExecution.optimizedPlan.toString
        .contains("ntile(4)"))
      assert(forced.collect().toSet == single.collect().toSet)
    } finally spark.conf.unset("spark.graft.ntile.bytesPerBucket")
  }

  test("salted agg equals plain groupBy sum/count") {
    val df = (1 to 500).map(i => (i % 3, i.toDouble)).toDF("k", "v")
    val salted = Skew.saltedSumCount(df, Seq("k"), "v", 8)
      .as[(Int, Double, Long)].collect().toSet
    val plain = df.groupBy($"k")
      .agg(sum($"v").as("s"), count(lit(1)).as("c"))
      .as[(Int, Double, Long)].collect().toSet
    assert(salted == plain)
  }

  test("approx boundaries + segment assignment covers all rows") {
    val df = (1 to 1000).map(i => ("k", i.toLong)).toDF("k", "pos")
    val b = Skew.approxBoundaries(df, Seq("k"), "pos", 4)
    val seg = Skew.segmentByBoundaries(df, b, Seq("k"), "pos")
    val sizes = seg.groupBy($"segment").count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.keySet == Set(1, 2, 3, 4))
    assert(sizes.values.sum == 1000L)
    // approx quantiles on uniform data stay within 10% of equal frequency
    assert(sizes.values.min > 150 && sizes.values.max < 350)
  }
}

class RangeJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("fixDegenerate widens zero-length intervals") {
    val df = Seq((5L, 5L), (3L, 9L)).toDF("s", "e")
    val got = RangeJoin.fixDegenerate(df, "s", "e")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((5L, 6L), (3L, 9L)))
  }

  test("bucketedOverlapJoin matches naive overlap join") {
    val rng = new scala.util.Random(42)
    val left = (1 to 200).map { i =>
      val s = rng.nextInt(1000).toLong; (i % 3, s, s + rng.nextInt(120)) }
    val right = (1 to 200).map { i =>
      val s = rng.nextInt(1000).toLong; (i % 3, s, s + rng.nextInt(120)) }
    val l = left.toDF("k", "ls", "le")
    val r = right.toDF("k", "rs", "re")
    val naive = l.join(r, l("k") === r("k") &&
        RangeJoin.overlaps($"ls", $"le", $"rs", $"re"))
      .select($"ls", $"le", $"rs", $"re").as[(Long, Long, Long, Long)]
      .collect().sorted.toSeq
    val bucketed = RangeJoin.bucketedOverlapJoin(l, r, Seq("k"),
        "ls", "le", "rs", "re", bucketWidth = 64L)
      .select($"ls", $"le", $"rs", $"re").as[(Long, Long, Long, Long)]
      .collect().sorted.toSeq
    assert(bucketed == naive)
  }

  // parity harness: every case below compares bucketedOverlapJoin with
  // the nested loop that evaluates the same predicate on every pair
  private def ivs(n: Int, seed: Int, base: Long, span: Int, len: Int,
                  side: String): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val lo = base + rnd.nextInt(span).toLong
      (i.toLong, lo, lo + rnd.nextInt(len).toLong)
    }.toDF(s"${side}_id", s"${side}_lo", s"${side}_hi")
  }

  private def idPairs(df: DataFrame): Seq[(Long, Long)] =
    df.select($"a_id", $"b_id").as[(Long, Long)].collect().sorted.toSeq

  private def nestedLoop(a: DataFrame, b: DataFrame): Seq[(Long, Long)] =
    idPairs(a.join(b,
      RangeJoin.overlaps($"a_lo", $"a_hi", $"b_lo", $"b_hi")))

  private def bucketed(a: DataFrame, b: DataFrame, width: Long): DataFrame =
    RangeJoin.bucketedOverlapJoin(a, b, Seq.empty,
      "a_lo", "a_hi", "b_lo", "b_hi", width)

  test("overlap randomized parity across bucket widths") {
    val a = ivs(150, 17, 0L, 5000, 800, "a")
    val b = ivs(150, 18, 0L, 5000, 800, "b")
    val naive = nestedLoop(a, b)
    assert(naive.nonEmpty)
    for (w <- Seq(16L, 100L, 1024L)) {
      val q = bucketed(a, b, w)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      // sorted with duplicates kept: equal means every pair exactly once
      assert(idPairs(q) == naive, s"width $w")
    }
  }

  test("wide-by-wide overlap: both sides explode, exactly-once match") {
    // every pair shares many buckets at width 8; the later-start credit
    // must still emit it once
    val a = ivs(120, 21, 0L, 3000, 600, "a")
    val b = ivs(120, 22, 0L, 3000, 600, "b")
    val naive = nestedLoop(a, b)
    assert(naive.nonEmpty)
    val q = bucketed(a, b, 8L)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), plan)
    assert("Generate".r.findAllIn(plan).length >= 2, plan) // both sides
    val got = idPairs(q)
    assert(got == naive)
    assert(got.distinct == got)
  }

  // points as degenerate intervals (pt, pt) against fixed bands
  private def fixedBands: DataFrame =
    Seq((1L, 0L, 99L), (2L, 50L, 149L), (3L, 500L, 500L),
        (4L, 700L, 650L)) // inverted: no point can lie in it
      .toDF("b_id", "b_lo", "b_hi")

  private def asPoints(pts: DataFrame): DataFrame =
    pts.select($"a_id", $"pt", $"pt".as("a_lo"), $"pt".as("a_hi"))

  private def fixedPoints: DataFrame = asPoints(
    Seq(5L, 120L, 499L, 500L, 75L).zipWithIndex
      .map { case (p, i) => (10L + i, p) }.toDF("a_id", "pt"))

  private def pointLoop(a: DataFrame, bands: DataFrame, c: Column) =
    idPairs(a.join(bands, c))

  test("fixed fixture: bucketed equi-join plan, identical rows") {
    val closed = pointLoop(fixedPoints, fixedBands,
      $"b_lo" <= $"pt" && $"pt" <= $"b_hi")
    val q = bucketed(fixedPoints, fixedBands, 64L)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate"), plan) // the exploded buckets
    val got = idPairs(q)
    assert(got == closed)
    assert(got.contains((13L, 3L))) // closed upper bound kept
    assert(!got.exists(_._2 == 4L)) // inverted band: no point
  }

  test("point as a degenerate interval: randomized half-open parity") {
    val a = asPoints(
      ivs(500, 41, 0L, 11000, 1, "a").select($"a_id", $"a_lo".as("pt")))
    val bands = ivs(300, 42, 0L, 10000, 500, "b")
    val q = bucketed(a, bands, 128L)
    assert(idPairs(q) ==
      pointLoop(a, bands, $"b_lo" <= $"pt" && $"pt" <= $"b_hi"))
    val halfOpen = pointLoop(a, bands, $"b_lo" <= $"pt" && $"pt" < $"b_hi")
    assert(halfOpen.nonEmpty)
    assert(idPairs(q.where($"pt" < $"b_hi")) == halfOpen)
  }

  test("strict bounds and interval-on-left orientation: residual parity") {
    val strict = pointLoop(fixedPoints, fixedBands,
      $"b_lo" < $"pt" && $"pt" < $"b_hi")
    assert(strict.nonEmpty)
    assert(!strict.contains((13L, 3L))) // boundary point excluded
    val residual = $"b_lo" < $"pt" && $"pt" < $"b_hi"
    assert(idPairs(bucketed(fixedPoints, fixedBands, 32L).where(residual))
      == strict)
    val bandsLeft = RangeJoin.bucketedOverlapJoin(fixedBands, fixedPoints,
      Seq.empty, "b_lo", "b_hi", "a_lo", "a_hi", 32L)
    assert(idPairs(bandsLeft.where(residual)) == strict)
  }

  test("inverted interval matches wherever the overlap predicate holds") {
    // a = (700, 650) has lo > hi, yet a.lo <= b.hi && b.lo <= a.hi holds
    // against b = (600, 800): the nested loop returns the pair, and so
    // must the bucketed join (its sequence() explodes a descending)
    val a = Seq((1L, 700L, 650L), (2L, 0L, 10L)).toDF("a_id", "a_lo", "a_hi")
    val b = Seq((1L, 600L, 800L), (2L, 660L, 690L), (3L, 5L, 5L))
      .toDF("b_id", "b_lo", "b_hi")
    val naive = nestedLoop(a, b)
    assert(naive == Seq((1L, 1L), (2L, 3L)))
    for (w <- Seq(1L, 16L, 64L, 1000L))
      assert(idPairs(bucketed(a, b, w)) == naive, s"width $w")
  }

  test("parity at ±2^61 bounds: Double-rounded buckets stay exact") {
    // at |x| ≈ 2^61 a Double carries ±256 of rounding error, so bucket
    // edges move; bucket order does not, and order is all the
    // exactly-once credit needs
    for (base <- Seq(1L << 61, -(1L << 61))) {
      val a = ivs(200, 61, base, 1000000, 5000, "a")
      val b = ivs(400, 62, base, 1005000, 50, "b")
      val naive = nestedLoop(a, b)
      assert(naive.nonEmpty, s"base $base")
      assert(idPairs(bucketed(a, b, 1000L)) == naive, s"base $base")
    }
  }

  test("parity hard against Long.MinValue and Long.MaxValue") {
    for (base <- Seq(Long.MinValue, Long.MaxValue - 1010000L)) {
      val a = ivs(150, 63, base, 1000000, 5000, "a")
      val b = ivs(300, 64, base, 1005000, 50, "b")
      val naive = nestedLoop(a, b)
      assert(naive.nonEmpty, s"base $base")
      assert(idPairs(bucketed(a, b, 1000L)) == naive, s"base $base")
    }
  }
}

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("firstPerKey keeps deterministic best row") {
    val df = Seq((1, 2, "b"), (1, 9, "a"), (2, 5, "c")).toDF("k", "q", "v")
    val got = Dedup.firstPerKey(df, Seq("k"), Seq(desc("q"), asc("v")))
      .as[(Int, Int, String)].collect().toSet
    assert(got == Set((1, 9, "a"), (2, 5, "c")))
  }

  test("firstPerKey is idempotent") {
    val df = (1 to 300).map(i => (i % 17, i)).toDF("k", "v")
    val once = Dedup.firstPerKey(df, Seq("k"), Seq(desc("v")))
    val twice = Dedup.firstPerKey(once, Seq("k"), Seq(desc("v")))
    assert(once.as[(Int, Int)].collect().toSet ==
           twice.as[(Int, Int)].collect().toSet)
  }

  test("incrementalDedup: in-batch min-id + index anti-join, incremental append") {
    // index holds fps A, B; batch carries a dup-of-index (A), an
    // in-batch dup class (C twice), and a fresh fp (D)
    val index = Seq("fpA", "fpB").toDF("fp")
    val batch = Seq((11L, "fpA"), (12L, "fpC"), (13L, "fpC"),
      (14L, "fpD")).toDF("doc_id", "fp")
    graft.sources.Sinks.writeBucketed(index, Seq("fp"), 4, "t_idx")
    graft.sources.Sinks.writeBucketed(batch, Seq("fp"), 4, "t_batch")
    val admitted = Dedup.incrementalDedup(spark, "t_batch", "t_idx",
      "doc_id", "fp")
    assert(admitted.as[(Long, String)].collect().toSet ==
      Set((12L, "fpC"), (14L, "fpD")))
    // the incremental cycle: append admitted fps to the index, run the
    // NEXT batch — previously admitted docs must now be rejected
    admitted.select($"fp").write.mode("append")
      .bucketBy(4, "fp").sortBy("fp").format("parquet")
      .saveAsTable("t_idx")
    val batch2 = Seq((21L, "fpC"), (22L, "fpE")).toDF("doc_id", "fp")
    graft.sources.Sinks.writeBucketed(batch2, Seq("fp"), 4, "t_batch2")
    val admitted2 = Dedup.incrementalDedup(spark, "t_batch2", "t_idx",
      "doc_id", "fp")
    assert(admitted2.as[(Long, String)].collect().toSet ==
      Set((22L, "fpE")))
  }
}

class SnapshotSpec extends SparkTestBase {
  import spark.implicits._

  test("mergeAggregates == batch recompute; new and untouched keys flow") {
    import org.apache.spark.sql.functions._
    val all = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 5L),
      ("c", 4L, 7L)).toDF("k", "id", "v")
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("s"))
    // state sees {a(1), b}; batch brings {a(2), c}: a merges, b passes
    // through untouched, c is new
    val merged = Snapshot.mergeAggregates(
        aggOf(all.where($"id" <= 3 && $"id" =!= 2)),
        aggOf(all.where($"id" === 2 || $"id" === 4)),
        Seq("k"), Seq("n", "s"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    val full = aggOf(all).as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(merged == full)
    assert(merged("a") == (2L, 30L) && merged("c") == (1L, 7L))
  }

  test("intervalize: no-op changes compress; ties break by tieCol; tail stays open") {
    val log = Seq(
      ("k1", 1L, 1L, "A"),  // first version
      ("k1", 2L, 2L, "A"),  // no-op — must compress away
      ("k1", 3L, 3L, "B"),  // change
      ("k1", 3L, 4L, "C"),  // same-ts change: tie orders it after B
      ("k2", 1L, 5L, "X")
    ).toDF("k", "ts", "id", "attr")
    val got = Snapshot.intervalize(log, Seq("k"), "ts", "id", Seq("attr"))
      .as[(String, String, Long, Option[Long])].collect().toSet
    assert(got == Set(
      ("k1", "A", 1L, Some(3L)),
      ("k1", "B", 3L, Some(3L)),  // closed by the same-ts successor
      ("k1", "C", 3L, None),
      ("k2", "X", 1L, None)))
  }

  test("intervalize: NULL attributes are not changes (null-safe struct compare)") {
    val log = Seq[(String, Long, Long, String)](
      ("k", 1L, 1L, null), ("k", 2L, 2L, null), ("k", 3L, 3L, "v")
    ).toDF("k", "ts", "id", "attr")
    val got = Snapshot.intervalize(log, Seq("k"), "ts", "id", Seq("attr"))
      .as[(String, String, Long, Option[Long])].collect().toSet
    assert(got == Set(("k", null, 1L, Some(3L)), ("k", "v", 3L, None)))
  }

  test("pointInTime: probes get the version valid at their timestamp") {
    val log = Seq(
      ("k1", 10L, 1L, "A"),
      ("k1", 20L, 2L, "B"),  // superseded same-ts by C — zero-length
      ("k1", 20L, 3L, "C"),
      ("k2", 5L, 4L, "X")
    ).toDF("k", "ts", "id", "attr")
    val iv = Snapshot.intervalize(log, Seq("k"), "ts", "id", Seq("attr"))
      .where($"valid_to".isNull || $"valid_to" > $"valid_from")
    val probes = Seq(
      ("k1", 9L, 1), ("k1", 10L, 2), ("k1", 19L, 3),
      ("k1", 20L, 4), ("k1", 99L, 5), ("k2", 6L, 6)
    ).toDF("k", "pts", "pid")
    val got = Snapshot.pointInTime(iv, probes, Seq("k"), "pts",
        Seq("attr"))
      .select($"pid", $"attr").as[(Int, Option[String])].collect().toMap
    assert(got == Map(
      1 -> None,        // before the first version: left-null
      2 -> Some("A"), 3 -> Some("A"),
      4 -> Some("C"),   // same-ts supersession resolves to the survivor
      5 -> Some("C"), 6 -> Some("X")))
  }

  test("diff labels added/removed/changed/unchanged; NULLs compare null-safely") {
    val old = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (3L, null), (4L, "d")
    ).toDF("id", "v")
    val nw = Seq[(java.lang.Long, String)](
      (1L, "a"),      // unchanged
      (2L, "B"),      // changed
      (3L, null),     // unchanged — NULL <=> NULL
      (5L, "e")       // added (4 removed)
    ).toDF("id", "v")
    val got = Snapshot.diff(old, nw, Seq("id"), Seq("v"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", 4L -> "removed", 5L -> "added"))
  }

  test("empty compare-column list: presence-only diff") {
    val old = Seq(1L, 2L).toDF("id")
    val nw = Seq(2L, 3L).toDF("id")
    val got = Snapshot.diff(old, nw, Seq("id"), Seq.empty)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged", 3L -> "added"))
  }

  test("applyChangeset: upsert replaces, delete drops, new keys insert") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq(
      (2L, "B2", "upsert"),  // replace
      (3L, "",   "delete"),  // drop
      (9L, "new", "upsert")  // insert
    ).toDF("id", "v", "op")
    val got = Snapshot.applyChangeset(base, changes, Seq("id"), "op")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B2", 9L -> "new"))
  }

  test("applyChangeset round-trips with diff (diff(base, next) = changeset)") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq((2L, "B2", "upsert"), (3L, "", "delete"),
      (9L, "new", "upsert")).toDF("id", "v", "op")
    val next = Snapshot.applyChangeset(base, changes, Seq("id"), "op")
    val d = Snapshot.diff(base, next, Seq("id"), Seq("v"))
      .as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 9L -> "added"))
  }

  test("applyChangeset: NULL keys are replaceable (null-safe anti-join)") {
    val base = Seq[(java.lang.Long, String)]((1L, "a"), (null, "n"))
      .toDF("id", "v")
    val changes = Seq[(java.lang.Long, String, String)](
      (null, "N2", "upsert")).toDF("id", "v", "op")
    val got = Snapshot.applyChangeset(base, changes, Seq("id"), "op")
      .as[(Option[Long], String)].collect().toMap
    assert(got == Map(Some(1L) -> "a", None -> "N2"))
  }
}

class OrderingSpec extends SparkTestBase {
  import spark.implicits._

  test("topK returns k smallest/largest with deterministic ties") {
    val df = Seq((3, 1), (1, 2), (3, 0), (2, 5)).toDF("a", "b")
    val got = Ordering.topK(df, 2, Seq(desc("a"), asc("b")))
      .as[(Int, Int)].collect().toSeq
    assert(got == Seq((3, 0), (3, 1)))
  }

  test("globalSort produces totally ordered output") {
    val df = (1 to 1000).reverse.map(i => (i % 10, i)).toDF("a", "b")
    val got = Ordering.globalSort(df, Seq($"a".asc, $"b".asc))
      .as[(Int, Int)].collect().toSeq
    assert(got == got.sorted)
  }

  test("withGlobalIndex: 1..N positions following the sort order") {
    val df = (1 to 2000).reverse.map(i => (i, s"k$i")).toDF("v", "k")
      .repartition(8)
    val got = Ordering.withGlobalIndex(df, Seq($"v".asc), "pos")
      .select($"v", $"pos").as[(Int, Long)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq == (1L to 2000L))
    assert(got.map(_._1).toSeq == (1 to 2000)) // position == sort order
    // the point of the formulation: no global Window anywhere (the
    // row_number() form would funnel the whole dataset into ONE window
    // partition; here AQE may still coalesce TOY data to 1 partition,
    // which is its call — the plan shape is what must not regress)
    val sorted = df.orderBy($"v".asc)
    assert(!sorted.queryExecution.executedPlan.toString.contains("Window"))
  }
}

class CoverageSweepSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("nonZeroNorm guards cosine's NaN on zero vectors") {
    val df = Seq(Array(0f, 0f), Array(1f, 0f)).toDF("v")
    val kept = df.where(Similarity.nonZeroNorm($"v")).count()
    assert(kept == 1)
  }

  test("langIdOf counts duplicate marker hits, unlike array_intersect") {
    // 'the' three times beats two distinct 'de' markers only when every
    // hit counts: deduplicated, en would score 1 and lose to de's 2
    val df = Seq(Seq("the", "der", "the", "ist", "the")).toDF("toks")
    val got = df.select(TextAnalysis.langIdOf($"toks",
        Seq("de" -> Seq("der", "ist"), "en" -> Seq("the"))))
      .as[String].head
    assert(got == "en")
  }
}

class AssociationSpec extends SparkTestBase {
  import spark.implicits._

  test("basketLift: hand-computed support/confidence/lift; minBaskets prunes") {
    // baskets after item dedup: b1{x,y} b2{x,y} b3{x,z} b4{y} → N=4,
    // c_x=3 c_y=3 c_z=1, n_xy=2 n_xz=1, y·z never co-occur
    val df = Seq(
      ("b1", "x"), ("b1", "y"), ("b1", "x"), // duplicate item dedups
      ("b2", "x"), ("b2", "y"),
      ("b3", "x"), ("b3", "z"),
      ("b4", "y")
    ).toDF("bk", "item")
    val got = Association.basketLift(df, Seq("bk"), "item", 1L)
      .as[(String, String, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val xy = got(("x", "y"))
    assert(xy._3 == 2L && xy._4 == 0.5 && xy._5 == 0.666667 &&
      xy._6 == 0.888889)
    val xz = got(("x", "z"))
    assert(xz._3 == 1L && xz._4 == 0.25 && xz._5 == 0.333333 &&
      xz._6 == 1.333333)
    assert(!got.contains(("y", "z")))
    val pruned = Association.basketLift(df, Seq("bk"), "item", 2L)
      .as[(String, String, Long, Double, Double, Double)].collect()
    assert(pruned.map(r => (r._1, r._2)).toSeq == Seq(("x", "y")))
  }

  test("NULL basket keys never pair (self-join equi-NULL semantics kept)") {
    // two NULL-key rows would form a {p,q} basket under plain groupBy
    // (NULL groups together) — the operator must exclude them, matching
    // the r12 self-join formulation where NULL keys never matched
    val df = Seq(
      (Option("b1"), "x"), (Option("b1"), "y"),
      (Option.empty[String], "p"), (Option.empty[String], "q")
    ).toDF("bk", "item")
    val lift = Association.basketLift(df, Seq("bk"), "item", 1L)
      .select("a", "b").as[(String, String)].collect().toSet
    assert(lift == Set(("x", "y"))) // no (p,q), and N=1 basket overall
    val n = Association.basketLift(df, Seq("bk"), "item", 1L)
      .select("support").as[Double].head
    assert(n == 1.0) // N excludes the NULL basket too: 1/1, not 1/2
    val cos = Association.itemCosine(df, Seq("bk"), "item", 1L, 5)
      .select("item").as[String].collect().toSet
    assert(cos == Set("x", "y"))
  }

  test("no operator leaves a session-lifetime cache entry (r14 sweep)") {
    // every operator that reuses an internal intermediate pins it
    // (ContextCleaner-scoped local checkpoint) — none may register a
    // CacheManager entry, because operator results are lazy and nothing
    // could ever unpersist one. This exercises one operator per swept
    // family end-to-end and asserts the CacheManager did not grow.
    val cm = spark.sharedState.cacheManager
    val before = cm.isEmpty
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "s1"),
      (2L, "alpha beta gamma delta zeta", "s1"),
      (3L, "one two three four five six", "s2"),
      (4L, "one two three four five seven", "s2")
    ).toDF("doc_id", "text", "source")
    NearDup.sourceOverlapMatrix(docs, "source", "text", 3).collect()
    NearDup.tfidfCosinePairs(docs, "doc_id", "text", "source", 0.0)
      .collect()
    NearDup.jaccardPairs(docs, "doc_id", "text", "source", 3, 0.0)
      .collect() // the handle-less overload must not leak either
    TextAnalysis.pmiBigrams(docs, "text", minCount = 1).collect()
    TextAnalysis.vocabCoverage(docs, "source", "text", 3).collect()
    TextAnalysis.jsDivergenceMatrix(docs, "source", "text").collect()
    Profile.mergeableDistinct(docs, "source", "doc_id").collect()
    val nums = (1 to 40).map(i => (i.toLong, (i % 7).toDouble))
      .toDF("entity", "value")
    Stats.paretoCover(nums, "entity", "value", 1, 2, buckets = 4)
      .collect()
    Stats.percentRank(nums, "value", buckets = 4).collect()
    Stats.skyline2d(nums, "entity", "value", buckets = 4).collect()
    assert(cm.isEmpty == before,
      "swept operators must pin, not persist into the CacheManager")
  }

  test("basket-set reuse leaves no session-lifetime cache entry") {
    // the r12-r13 formulation persisted the basket sets into the
    // CacheManager and nothing ever unpersisted them (the operator's
    // result is lazy, so there is no point it could call unpersist at) —
    // repeated executions accumulated session-lifetime entries until LRU
    // eviction. The pin formulation holds ContextCleaner-scoped blocks
    // instead; the CacheManager must not grow across an execution.
    val cm = spark.sharedState.cacheManager
    val before = cm.isEmpty
    val df = Seq(("b1", "x"), ("b1", "y"), ("b2", "x")).toDF("bk", "item")
    Association.basketLift(df, Seq("bk"), "item", 1L).collect()
    Association.itemCosine(df, Seq("bk"), "item", 1L, 3).collect()
    assert(cm.isEmpty == before,
      "basketSets must pin (ContextCleaner-scoped blocks), not persist " +
        "into the session CacheManager")
  }
}
