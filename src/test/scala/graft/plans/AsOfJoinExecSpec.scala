package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class AsOfJoinExecSpec extends SparkTestBase {
  import spark.implicits._
  import graft.operators.AsOfJoin

  test("plan: custom exec node, co-partitioned sort-merge shape") {
    val l = Seq((1L, 10L, "a")).toDF("k", "t", "lv")
    val r = Seq((1L, 5L, 2.0)).toDF("k", "rt", "rv")
    val df = AsOfJoin.asofMergeExec(l, r, Seq("k"), "t", "rt")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin ["), p) // SparkPlan strips "Exec"
    // both children shuffled on the key and sorted (key, time)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert("Sort \\[".r.findAllIn(p).length >= 2, p)
  }

  test("matches: latest right ≤ left time per key; left-outer nulls") {
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 4L, "early"),
      (2L, 10L, "c"), (3L, 10L, "nokey")).toDF("k", "t", "lv")
    val r = Seq((1L, 5L, 1.0), (1L, 10L, 2.0), (1L, 15L, 3.0),
      (2L, 10L, 4.0)).toDF("k", "rt", "rv")
    val got = AsOfJoin.asofMergeExec(l, r, Seq("k"), "t", "rt")
      .select(col("k"), col("t"), col("asof_ts"), col("rv"))
      .collect().map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) -1L else x.getLong(2))).sorted.toSeq
    assert(got == Seq((1L, 4L, -1L), (1L, 10L, 10L), (1L, 20L, 15L),
      (2L, 10L, 10L), (3L, 10L, -1L)))
  }

  test("randomized parity with the union-LOCF formulation") {
    val rnd = new scala.util.Random(23)
    val l = (1 to 2000).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .toDF("k", "t", "lid")
    // one row per (key, ts): the shared determinism contract
    val r = (1 to 800).map(i =>
      (rnd.nextInt(25).toLong, rnd.nextInt(1000).toLong, i.toDouble))
      .toDF("k", "rt", "rv")
      .groupBy("k", "rt").agg(max(col("rv")).as("rv"))
    val viaExec = AsOfJoin.asofMergeExec(l, r, Seq("k"), "t", "rt")
      .select(col("k"), col("t"), col("lid"), col("asof_ts"), col("rv"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) -1.0 else x.getDouble(4))).sorted.toSeq
    val viaUnion = AsOfJoin.asofBackward(l, r, Seq("k"), "t", "rt",
        Seq("rv"))
      .select(col("k"), col("t"), col("lid"), col("asof_ts"), col("rv"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) -1.0 else x.getDouble(4))).sorted.toSeq
    assert(viaExec == viaUnion && viaExec.nonEmpty)
  }

  test("result is invariant to input partitioning") {
    val l = (1 to 500).map(i => ((i % 7).toLong, (i * 13 % 100).toLong,
      i.toLong)).toDF("k", "t", "lid")
    val r = (1 to 200).map(i => ((i % 9).toLong, (i * 7 % 100).toLong,
      i.toDouble)).toDF("k", "rt", "rv")
      .groupBy("k", "rt").agg(max(col("rv")).as("rv"))
    def run(lp: Int, rp: Int) =
      AsOfJoin.asofMergeExec(l.repartition(lp), r.repartition(rp),
          Seq("k"), "t", "rt")
        .collect().map(_.toSeq).map(_.toString).sorted.toSeq
    assert(run(2, 5) == run(7, 1))
  }

  test("empty right side: all left rows survive with nulls") {
    val l = Seq((1L, 10L, "a")).toDF("k", "t", "lv")
    val r = Seq.empty[(Long, Long, Double)].toDF("k", "rt", "rv")
    val got = AsOfJoin.asofMergeExec(l, r, Seq("k"), "t", "rt").collect()
    assert(got.length == 1 && got.head.isNullAt(4))
  }

  test("NULL right key never matches a non-nullable left key (r12 ADVICE)") {
    // the compiled key compare used LEFT-side nullability only; with a
    // non-nullable left key the generated ordering skipped null checks,
    // so a NULL right key's slot read as the type default (0L) and
    // matched left key 0 — nullability must be the OR of both sides
    import org.apache.spark.sql.types._
    val l = Seq((0L, 10L, "zero"), (1L, 10L, "one")).toDF("k", "t", "lv")
    assert(!l.schema("k").nullable) // precondition for the regression
    val rRows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(null, 5L, 9.0),
      org.apache.spark.sql.Row(1L: java.lang.Long, 5L, 2.0))
    val rSchema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("rt", LongType, nullable = false),
      StructField("rv", DoubleType, nullable = false)))
    val r = spark.createDataFrame(rRows, rSchema)
    val got = AsOfJoin.asofMergeExec(l, r, Seq("k"), "t", "rt")
      .select(col("k"), col("rv")).collect()
      .map(x => (x.getLong(0),
        if (x.isNullAt(1)) -1.0 else x.getDouble(1))).sorted.toSeq
    // k=0 must go UNMATCHED (the null-key right row is not its match)
    assert(got == Seq((0L, -1.0), (1L, 2.0)))
  }

  test("nearest mode: direction, tolerance, and backward tie-break") {
    val l = Seq((1L, 10L, "mid"), (1L, 3L, "before-first"),
      (1L, 100L, "far"), (1L, 18L, "tie")).toDF("k", "t", "lv")
    // rights at 6 and 30: t=10 → backward Δ=-4 (forward is 20 away);
    // t=3 → FORWARD Δ=+3 (backward-only would null this row);
    // t=100 → nothing within 25; t=18 → 12 back vs 12 fwd, tie → back
    val r = Seq((1L, 6L, 1.0), (1L, 30L, 2.0)).toDF("k", "rt", "rv")
    val got = AsOfJoin.asofNearestExec(l, r, Seq("k"), "t", "rt",
        tolerance = 25L)
      .select(col("t"), col("asof_ts"), col("delta"), col("rv"))
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(1)) -1L else x.getLong(1),
        if (x.isNullAt(2)) 999L else x.getLong(2))).sorted.toSeq
    assert(got == Seq((3L, 6L, 3L), (10L, 6L, -4L), (18L, 6L, -12L),
      (100L, -1L, 999L)))
  }

  test("nearest exec: randomized parity with the union-LOCF asofNearest") {
    val rnd = new scala.util.Random(29)
    for (tol <- Seq(0L, 7L, 50L, 1000L)) {
      val l = (1 to 1500).map(i =>
        (rnd.nextInt(15).toLong, rnd.nextInt(600).toLong, i.toLong))
        .toDF("k", "t", "lid")
      val r = (1 to 600).map(i =>
        (rnd.nextInt(18).toLong, rnd.nextInt(600).toLong, i.toDouble))
        .toDF("k", "rt", "rv")
        .groupBy("k", "rt").agg(max(col("rv")).as("rv"))
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("k"), col("t"), col("lid"), col("asof_ts"),
          col("delta"), col("rv"))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
      val viaExec = canon(AsOfJoin.asofNearestExec(l, r, Seq("k"),
        "t", "rt", tol))
      val viaUnion = canon(AsOfJoin.asofNearest(l, r, Seq("k"),
        "t", "rt", Seq("rv"), tol))
      assert(viaExec == viaUnion && viaExec.nonEmpty, s"tol=$tol")
    }
  }

  test("backward mode with tolerance expires stale matches") {
    val l = Seq((1L, 10L, "in"), (1L, 40L, "stale")).toDF("k", "t", "lv")
    val r = Seq((1L, 8L, 1.0)).toDF("k", "rt", "rv")
    val got = AsOfJoin.asofMergeExec(l, r, Seq("k"), "t", "rt",
        tolerance = Some(5L))
      .select(col("t"), col("asof_ts"))
      .collect().map(x => (x.getLong(0),
        if (x.isNullAt(1)) -1L else x.getLong(1))).sorted.toSeq
    assert(got == Seq((10L, 8L), (40L, -1L)))
  }

  test("floating-point join keys are rejected with a clear error") {
    val l = Seq((1.0, 10L, "a")).toDF("k", "t", "lv")
    val r = Seq((1.0, 5L, 2.0)).toDF("k", "rt", "rv")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asofMergeExec(l, r, Seq("k"), "t", "rt")
    }
    assert(e.getMessage.contains("floating-point join key"))
  }

  test("nearest with non-integral time column is rejected") {
    val l = Seq((1L, "x", "a")).toDF("k", "t", "lv")
    val r = Seq((1L, "y", 2.0)).toDF("k", "rt", "rv")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asofMergeExec(l, r, Seq("k"), "t", "rt", nearest = true,
        tolerance = Some(5L))
    }
    assert(e.getMessage.contains("integral or timestamp"))
  }

  test("TimestampType parity: exec vs union-LOCF, tolerance and delta in MICROS") {
    // the unit contract (AsOfJoin.tsAsLong doc): timestamp columns use
    // microseconds for both tolerance and the long-valued delta — the
    // exec compares micros natively (UnsafeRow long), the LOCF form
    // through unix_micros; both must agree row-for-row
    val rnd = new scala.util.Random(31)
    for (tolSec <- Seq(0L, 7L, 50L)) {
      val tol = tolSec * 1000000L
      val l = (1 to 800).map(i =>
        (rnd.nextInt(10).toLong, rnd.nextInt(600).toLong, i.toLong))
        .toDF("k", "sec", "lid")
        .select(col("k"), timestamp_seconds(col("sec")).as("t"),
          col("lid"))
      val r = (1 to 400).map(i =>
        (rnd.nextInt(12).toLong, rnd.nextInt(600).toLong, i.toDouble))
        .toDF("k", "sec", "rv")
        .groupBy("k", "sec").agg(max(col("rv")).as("rv"))
        .select(col("k"), timestamp_seconds(col("sec")).as("rt"),
          col("rv"))
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("k"), col("t"), col("lid"), col("asof_ts"),
          col("delta"), col("rv"))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
      val viaExec = canon(AsOfJoin.asofNearestExec(l, r, Seq("k"),
        "t", "rt", tol))
      val viaUnion = canon(AsOfJoin.asofNearest(l, r, Seq("k"),
        "t", "rt", Seq("rv"), tol))
      assert(viaExec == viaUnion && viaExec.nonEmpty, s"tol=$tol micros")
      // delta really is micros: whole-second inputs ⇒ every non-null
      // delta is a 1e6 multiple, and |delta| respects the tolerance
      val deltas = AsOfJoin.asofNearestExec(l, r, Seq("k"), "t", "rt",
          tol)
        .where(col("delta").isNotNull).select(col("delta"))
        .as[Long].collect()
      assert(deltas.forall(d => math.abs(d) <= tol &&
        d % 1000000L == 0), s"delta units broke at tol=$tol")
    }
  }

  test("TimestampNTZType parity: exec vs union-LOCF agree (micros, session-tz conversion)") {
    // NTZ's canonical-unit conversion goes through the session time
    // zone (UTC in GraftSession); the exec reads the NTZ micros
    // directly — both formulations must still agree row-for-row
    val rnd = new scala.util.Random(37)
    val tol = 30L * 1000000L
    val l = (1 to 400).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(500).toLong, i.toLong))
      .toDF("k", "sec", "lid")
      .select(col("k"),
        timestamp_seconds(col("sec")).cast("timestamp_ntz").as("t"),
        col("lid"))
    val r = (1 to 200).map(i =>
      (rnd.nextInt(10).toLong, rnd.nextInt(500).toLong, i.toDouble))
      .toDF("k", "sec", "rv")
      .groupBy("k", "sec").agg(max(col("rv")).as("rv"))
      .select(col("k"),
        timestamp_seconds(col("sec")).cast("timestamp_ntz").as("rt"),
        col("rv"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("t"), col("lid"), col("asof_ts"),
        col("delta"), col("rv"))
      .collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      .sorted.toSeq
    val viaExec = canon(AsOfJoin.asofNearestExec(l, r, Seq("k"),
      "t", "rt", tol))
    val viaUnion = canon(AsOfJoin.asofNearest(l, r, Seq("k"),
      "t", "rt", Seq("rv"), tol))
    assert(viaExec == viaUnion && viaExec.nonEmpty)
  }

  test("DateType tolerance counts DAYS in both formulations") {
    val l = Seq((1L, "2024-01-10", "in"), (1L, "2024-02-10", "stale"))
      .toDF("k", "d", "lv")
      .select(col("k"), to_date(col("d")).as("t"), col("lv"))
    val r = Seq((1L, "2024-01-08", 1.0)).toDF("k", "d", "rv")
      .select(col("k"), to_date(col("d")).as("rt"), col("rv"))
    // Δ = 2 days (in tolerance 5) matches; Δ = 33 days expires
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("t").cast("string"),
        col("asof_ts").cast("string")).collect()
      .map(x => (x.getString(0), Option(x.getString(1)).getOrElse("-")))
      .sorted.toSeq
    val expect = Seq(("2024-01-10", "2024-01-08"), ("2024-02-10", "-"))
    assert(canon(AsOfJoin.asofBackward(l, r, Seq("k"), "t", "rt",
      Seq("rv"), tolerance = Some(5L))) == expect)
    assert(canon(AsOfJoin.asofMergeExec(l, r, Seq("k"), "t", "rt",
      tolerance = Some(5L))) == expect)
  }
}
