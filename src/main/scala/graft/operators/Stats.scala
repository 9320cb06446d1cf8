package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact statistics.
  *
  * Spark's built-in `percentile` is exact but accumulates a per-partition
  * value→count map and merges the full maps on the FINAL reducers — for a
  * high-cardinality column that merge is the whole dataset squeezed
  * through #groups tasks. This formulation distributes the heavy pass:
  * count per (key, value) (map-side combined), one spillable
  * cumulative-count window over the DISTINCT values of each key, then a
  * conditional-min aggregate per requested percentile. Interpolation is
  * the standard `pos = p·(n-1)` linear rule — same as Spark `percentile`
  * and DuckDB `quantile_cont` (equality verified in the spec).
  */
object Stats {

  /** Exact interpolated percentiles per key.
    * Returns (keyCols..., p_<label>: double ...) one row per key.
    *
    * `orderBuckets` controls the parallelism of the rank pass. The
    * single-level form (0) runs ONE cumulative-count window per key —
    * with few groups that funnels every distinct value through #groups
    * tasks, the q12-style sort bottleneck at 100×. With orderBuckets =
    * B > 1, the order domain is first range-split by approx-quantile
    * boundaries (any split points preserve exactness — counts are
    * integers and the boundaries only partition the sort): the heavy
    * cumulative window then runs per (key, bucket) on #keys×B tasks,
    * and only the B-row-per-key bucket totals go through a per-key
    * prefix window. Results are bit-identical in both modes.
    */
  def exactPercentiles(df: DataFrame, keyCols: Seq[String],
                       valueCol: String, probs: Seq[(String, Double)],
                       orderBuckets: Int = 0)
      : DataFrame = {
    val key = keyCols.map(col)
    // NULL values are excluded from position arithmetic (matching Spark's
    // percentile / DuckDB quantile_cont — they would otherwise sort first
    // and shift every position), but their GROUPS are kept: count(value)
    // skips NULLs, so a NULL-value row becomes a _c = 0 group row and a
    // key whose values are all NULL still emits a row with NULL
    // percentiles. Aggregation preserves NULL keys, unlike the previous
    // re-join of distinct keys (join equality is null-unsafe, so a
    // NULL-key group would lose its computed percentiles).
    val counts = df
      .groupBy((key :+ col(valueCol)): _*)
      .agg(count(col(valueCol)).as("_c"))
    val cum =
      if (orderBuckets > 1) {
        // boundaries over the DISTINCT-value table: equal-count over
        // distinct values = balanced window partitions. The _c guard
        // keeps the counts subtree column-identical across the bounds
        // and segment branches so they share ONE exchange
        // (Skew.approxBoundaries pruneGuardCols scaladoc; _c >= 0 by
        // construction)
        val bounds = Skew.approxBoundaries(counts, keyCols, valueCol,
          orderBuckets, pruneGuardCols = Seq("_c"))
        val seg = Skew.segmentByBoundaries(counts, bounds, keyCols,
          valueCol, "_ob")
        val wIn = Window.partitionBy((key :+ col("_ob")): _*)
          .orderBy(col(valueCol))
        val withIn = seg.withColumn("_cumIn", sum(col("_c")).over(wIn))
        // B rows per key: running offset of the buckets before _ob, and
        // the per-key total — both trivial windows. Totals derive from
        // withIn (bucket total = max running count), NOT from seg: both
        // consumers then share one exchange (ReusedExchange) instead of
        // recomputing the counts+segment subtree twice.
        val totals = withIn.groupBy((key :+ col("_ob")): _*)
          .agg(max(col("_cumIn")).as("_bt"))
        val wOff = Window.partitionBy(key: _*).orderBy(col("_ob"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = totals
          .withColumn("_off", coalesce(sum(col("_bt")).over(wOff), lit(0L)))
          .withColumn("_n", sum(col("_bt"))
            .over(Window.partitionBy(key: _*)))
          .select(keyCols.map(c => col(c).as(s"_ok_$c")) ++
            Seq(col("_ob").as("_oob"), col("_off"), col("_n")): _*)
        // NULL-SAFE equality throughout: NULL-key groups must keep their
        // offset, and an all-NULL-values group has NULL boundaries hence
        // a NULL bucket id — null-unsafe equality would drop it here
        val cond = keyCols.map(c => col(c) <=> col(s"_ok_$c"))
          .foldLeft(col("_ob") <=> col("_oob"))(_ && _)
        withIn.join(broadcast(offs), cond)
          .withColumn("_cum", col("_off") + col("_cumIn"))
      } else {
        val wCum = Window.partitionBy(key: _*).orderBy(col(valueCol))
        val wAll = Window.partitionBy(key: _*)
        counts
          .withColumn("_cum", sum(col("_c")).over(wCum))
          .withColumn("_n", sum(col("_c")).over(wAll))
      }
    val aggs = probs.flatMap { case (label, p) =>
      // 0-based fractional position of the percentile in the sorted data
      val pos: Column = lit(p) * (col("_n") - 1)
      val lo = floor(pos)
      val hi = ceil(pos)
      // value at 0-based index k = first value with cumulative count > k
      def valueAt(k: Column): Column =
        min(when(col("_cum") > k, col(valueCol)))
      Seq(valueAt(lo).as(s"_lo_$label"), valueAt(hi).as(s"_hi_$label"),
          first(pos - lo).as(s"_frac_$label"))
    }
    val prows = cum.groupBy(key: _*).agg(aggs.head, aggs.tail: _*)
    probs.foldLeft(prows) { case (acc, (label, _)) =>
      // (1-d)·lower + d·higher — the exact arithmetic form Spark's
      // built-in percentile uses (bit-for-bit parity matters: the
      // algebraically-equal lower + (higher-lower)·d differs by 1 ulp)
      acc.withColumn(label,
        (lit(1d) - col(s"_frac_$label")) * col(s"_lo_$label") +
          col(s"_frac_$label") * col(s"_hi_$label"))
        .drop(s"_lo_$label", s"_hi_$label", s"_frac_$label")
    }
  }

  /** Robust (median/MAD) outlier detection per key group: rows where
    * `|v − median| > factor · MAD`, `MAD = median(|v − median|)` — the
    * quality-filter form that survives heavy-tailed metrics where
    * mean/stddev z-scores get dragged by the outliers themselves.
    *
    * Two aggregation passes by construction (MAD needs the median
    * first): groupBy → join back → groupBy → join back. Both joined
    * aggregates are one-row-per-key tables — AQE turns the joins into
    * broadcasts for any realistic key cardinality, so the fact table
    * shuffles only for the two aggregations. Returns the input columns
    * plus `med` and `mad` (unrounded), filtered to outliers.
    */
  /** Winsorization — clamp `valueCol` into its per-key
    * [pLow, pHigh] exact-percentile band: the outlier treatment that
    * KEEPS rows (vs [[robustOutliers]], which flags them), standard
    * before computing means/regressions on heavy-tailed columns.
    * Returns the input plus `_lo`, `_hi` and the clamped value
    * `wins`.
    *
    * SCALE SHAPE: bounds come from ONE [[exactPercentiles]] pass (its
    * own scale contract applies, incl. `orderBuckets` for huge keys);
    * the join-back is a one-row-per-key table AQE broadcasts; the clamp
    * itself is scan-stage. The fact table shuffles only for the
    * percentile aggregation.
    */
  def winsorize(df: DataFrame, keyCols: Seq[String], valueCol: String,
                pLow: Double, pHigh: Double): DataFrame = {
    val bounds = exactPercentiles(df, keyCols, valueCol,
      Seq("_lo" -> pLow, "_hi" -> pHigh))
    df.join(bounds, keyCols)
      .withColumn("wins",
        least(greatest(col(valueCol), col("_lo")), col("_hi")))
  }

  /** OHLC resampling — downsample an event stream to fixed-width bars
    * (open / high / low / close / volume / mean), the time-series
    * compaction step dashboards and feature pipelines read instead of
    * raw events. `tieCol` makes open/close deterministic under equal
    * timestamps (min_by/max_by over a (ts, tie) struct — lexicographic,
    * engine-exact).
    *
    * SCALE SHAPE: one partial/final aggregate over one scan — min_by /
    * max_by / min / max / count / avg all combine map-side, so the
    * shuffle carries one row per (key, bar), never the events. No
    * window, no sort: the "first/last per bucket" that usually tempts a
    * row_number() window is an ORDERED-ARGMIN aggregate here (the
    * oracle states the window form; results are identical).
    *
    * mean_value sums DECIMAL(38,12)-quantized values, casts the exact
    * sum to double, and divides by volume — a plain avg(double) is
    * partition-order-dependent in its last ulps, and round(·, 6)
    * amplifies any bar whose mean sits near a 5e-7 boundary into a
    * hash mismatch (surfaced by the sf0.1 oracle leg, r14: one bar in
    * 103 flipped; sf0.01 never had enough rows per bar to expose it).
    * The quantization cannot tie-break differently across engines:
    * a double whose exact decimal expansion ends AT digit 13 must be
    * a multiple of 2^-13 — ~2^-39 of the double population.
    */
  def ohlcBars(df: DataFrame, tsCol: String, tieCol: String,
               valueCol: String, widthSec: Long,
               keyCols: Seq[String] = Nil): DataFrame = {
    val sec = col(tsCol).cast("long")
    val bar = floor(sec.cast("double") / lit(widthSec.toDouble))
      .cast("long").as("bar_id")
    val ord = struct(sec, col(tieCol))
    df.groupBy(keyCols.map(col) :+ bar.asInstanceOf[Column]: _*)
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("volume"),
        round(sum(col(valueCol).cast("decimal(38,12)")).cast("double") /
          count(lit(1)), 6).as("mean_value"))
  }

  def robustOutliers(df: DataFrame, keyCols: Seq[String], valueCol: String,
                     factor: Double = 3.0): DataFrame = {
    val key = keyCols.map(col)
    val v = col(valueCol)
    val med = df.groupBy(key: _*)
      .agg(percentile(v, lit(0.5)).as("med"))
    val withMed = df.join(med, keyCols)
    val mad = withMed.groupBy(key: _*)
      .agg(percentile(abs(v - col("med")), lit(0.5)).as("mad"))
    withMed.join(mad, keyCols)
      .where(abs(v - col("med")) > lit(factor) * col("mad"))
  }

  /** Time-decayed per-key score: Σ value · 2^−⌊age/halfLife⌋, with age
    * measured back from the dataset's latest event (one-row broadcast).
    * The recency-weighted activity/engagement feature every behavioral
    * ranking pipeline derives.
    *
    * The decay is a HALF-LIFE STAIRCASE, not exp(−λ·age), on purpose:
    * ⌊age/halfLife⌋ is integer arithmetic and 2^−k scales a double's
    * exponent EXACTLY, so every engine computes bit-identical terms —
    * exp() differs in final ulps across libm implementations, which an
    * oracle hash would catch. Same decay law to within a factor of 2,
    * engine-portable exactness. The shift is clamped at 62 (beyond that
    * the term underflows any realistic sum anyway).
    *
    * SCALE SHAPE: one scan-stage projection (the division) + one
    * map-side-combined aggregate; the max-timestamp anchor is a one-row
    * broadcast cross join. Nothing shuffles but (key, partial sum).
    */
  def decayedSum(df: DataFrame, keyCols: Seq[String], tsSecCol: String,
                 valueCol: String, halfLifeSec: Long): DataFrame = {
    require(halfLifeSec > 0, "halfLifeSec must be positive")
    val anchor = df.agg(max(col(tsSecCol)).as("_tmax"))
    val decayDiv = expr(s"shiftleft(1L, cast(least(" +
      s"(_tmax - $tsSecCol) DIV $halfLifeSec, 62L) as int))")
    df.crossJoin(broadcast(anchor))
      .select(keyCols.map(col) :+
        (col(valueCol) / decayDiv).as("_dv"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(round(sum(col("_dv")), 6).as("decayed_value"),
        count(lit(1)).as("n_events"))
  }

  /** First-order Markov transition matrix over per-key event sequences:
    * count + conditional probability of each (state → next state) step,
    * the navigation/churn model behind "what do users do after X" and
    * the transition features sequence models train on. Determinism: the
    * successor is defined by (tsCol, tieCol) lexicographic order, so
    * equal timestamps cannot flip transitions between engines.
    *
    * SCALE SHAPE: one hash exchange on the sequence key + a partition-
    * local sort for the lead() window (state = one row), then a
    * map-side-combined count over (from, to) — the |states|² result is
    * tiny, and the row-normalizing window runs over THAT table, never
    * the events. No self-join: the successor comes from lead(), so the
    * cost is one window pass over the events, O(|E|).
    *
    * Returns (from_state, to_state, n, prob) with Σ prob = 1 per
    * from_state (prob rounded to 6 — a ratio of exact longs, but the
    * division itself is engine-exact IEEE so rounding is belt only).
    */
  def transitionMatrix(df: DataFrame, keyCols: Seq[String],
                       tsCol: String, tieCol: String,
                       stateCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val steps = df
      .withColumn("_next", lead(col(stateCol), 1).over(w))
      .where(col("_next").isNotNull)
      .groupBy(col(stateCol).as("from_state"), col("_next").as("to_state"))
      .agg(count(lit(1)).as("n"))
    val wRow = Window.partitionBy(col("from_state"))
    steps.withColumn("prob",
        round(col("n").cast("double") / sum(col("n")).over(wRow), 6))
  }

  /** Regular-grid resampling with LOCF (last-observation-carried-
    * forward) gap fill: per key, one row per `stepSec` bucket from the
    * key's first to last event, carrying the latest observed value —
    * the "as-of every hour" densification feature stores and training
    * pipelines need from sparse event streams. The per-bucket
    * observation is the LAST event in the bucket by (time, tieCol) —
    * an ordered-argmax AGGREGATE (max_by), not a window over events.
    *
    * SCALE SHAPE: events aggregate map-side to one row per (key,
    * bucket); ONE key-partitioned window over that OBSERVED-bucket
    * table finds each observation's next non-null successor (lead
    * ignoreNulls) and the key's span (min/max over the same
    * partitioning), and each observation then EXPLODES its own fill
    * range [bucket, next−1]. Grid rows are generated map-side after
    * the window — they never enter a shuffle. (The previous shape —
    * explode a per-key span table, LEFT JOIN the observations, window
    * over the grid — pushed the full grid through the join exchange
    * AND the window exchange; at the sf1 leg that was 10× the rows on
    * every shuffle for the same output, ~20 s vs ~8 s.) Grid size is
    * still the contract: span·keys/step output rows, independent of
    * event count — the operator's output is the denser of the two by
    * design.
    *
    * Returns (keyCols..., bucket, value_filled). Buckets before a
    * key's first observation cannot exist (grid starts at the first
    * event); a NULL observed value is carried over (ignoreNulls
    * semantics), so value_filled is NULL only for buckets at or after
    * a key's first observation but before its first NON-NULL one.
    */
  def gapFillLocf(df: DataFrame, keyCols: Seq[String], tsSecCol: String,
                  valueCol: String, tieCol: String,
                  stepSec: Long): DataFrame = {
    require(stepSec > 0, "stepSec must be positive")
    val key = keyCols.map(col)
    val bucketed = df.withColumn("_bkt",
      expr(s"$tsSecCol DIV $stepSec"))
    val perBucket = bucketed
      .groupBy(key :+ col("_bkt"): _*)
      .agg(max_by(col(valueCol),
        struct(col(tsSecCol), col(tieCol))).as("_v"))
    val w = Window.partitionBy(key: _*).orderBy(col("_bkt"))
    val wAll = Window.partitionBy(key: _*)
    val marked = perBucket
      // next OBSERVED bucket with a non-null winner: null winners are
      // skipped so the previous non-null value's range extends across
      // them (exactly `last(_, ignoreNulls = true)` over the grid)
      .withColumn("_next", lead(when(col("_v").isNotNull, col("_bkt")),
        1, null, ignoreNulls = true).over(w))
      .withColumn("_b0", min(col("_bkt")).over(wAll))
      .withColumn("_b1", max(col("_bkt")).over(wAll))
    val hi = coalesce(col("_next") - 1, col("_b1"))
    val fillRange =
      when(col("_v").isNotNull, sequence(col("_bkt"), hi))
        // leading null-winner region, emitted ONCE by the span's first
        // bucket (later null-winner rows are inside some range already)
        .when(col("_bkt") === col("_b0"), sequence(col("_b0"), hi))
        .otherwise(expr("array()").cast(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))
    marked.select(
      key :+ explode(fillRange).as("bucket")
        :+ col("_v").as("value_filled"): _*)
  }

  /** Pareto coverage — the smallest prefix of entities (by value,
    * descending) whose values sum to at least `shareNum/shareDen` of
    * the total: "which customers are 80% of revenue", the
    * concentration/prioritization cut every ops review asks for. The
    * share is a RATIONAL, not a double: membership is decided by
    * `(cum − v) · shareDen < total · shareNum` in exact DECIMAL
    * arithmetic, so no engine's float rounding can flip the boundary
    * entity. Ties in value are broken by `entityCol` so the prefix is
    * unique.
    *
    * SCALE SHAPE — two-level prefix sum, no global single-partition
    * window: the per-entity table is range-partitioned on the
    * (value desc, entity) order, each partition computes its local
    * running sum, and only the ≤`buckets` partition totals go through
    * a global prefix window (the exactPercentiles orderBuckets
    * protocol). Split points come from range sampling — ANY split
    * preserves exactness since the offsets are summed, not estimated.
    * The grand total is a one-row broadcast.
    *
    * Input must be one row per entity with an exact (DECIMAL/integer)
    * value column. Returns the covering entities with their value.
    */
  def paretoCover(per: DataFrame, entityCol: String, valueCol: String,
                  shareNum: Int, shareDen: Int,
                  buckets: Int = 32): DataFrame = {
    require(shareNum > 0 && shareDen > shareNum,
      "share must be a proper fraction")
    // pinned for EVALUATE-ONCE economics only: unlike percentRank's
    // distinct-value table (a cheap map-side re-aggregation), `per` is
    // the CALLER's derivation and may be arbitrarily expensive (q166:
    // join + agg over the fact table) — the total, the cuts collect,
    // and both prefix branches all consume it, and unpinned each would
    // re-run that derivation (measured: q166 3.15 s -> 3.92 s at sf0.1
    // without the pin). Boundary consistency does NOT need the pin any
    // more — that is the cut literals' job now.
    val pinned = Components.pin(per, reliable = false)
    val tot = pinned.agg(sum(col(valueCol)).as("_tot"))
    // cut-literal protocol (see percentRank; r12 observed the
    // disagreeing-boundaries corruption this class of operator risks
    // when two branches re-run a range sampler — driver-literal cuts
    // make a re-sample impossible rather than pinned-away). Cuts are
    // on VALUE alone, descending; value ties share a bucket (the old
    // (value desc, entity) range key split them), which only affects
    // balance, never exactness — offsets are summed, not estimated.
    val ranged = pinned.withColumn("_pid",
      cutBucket(col(valueCol), collectedCuts(pinned, col(valueCol),
        buckets).reverse, ascending = false))
    val wIn = Window.partitionBy(col("_pid"))
      .orderBy(col(valueCol).desc, col(entityCol))
    val withCum = ranged.withColumn("_cumIn", sum(col(valueCol)).over(wIn))
    // ≤ buckets rows: per-partition totals → exclusive global prefix.
    // The partition total is sum(valueCol), NOT max(_cumIn): a negative
    // value makes the running sum non-monotone, so its max is not the
    // partition sum and would silently corrupt the global prefix.
    val wOff = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withCum.groupBy(col("_pid"))
      .agg(sum(col(valueCol)).as("_pt"))
      .withColumn("_off", coalesce(sum(col("_pt")).over(wOff), lit(0)))
      .select(col("_pid"), col("_off"))
    withCum.join(broadcast(offsets), "_pid")
      .crossJoin(broadcast(tot))
      .where((col("_cumIn") + col("_off") - col(valueCol)) *
        lit(shareDen) < col("_tot") * lit(shareNum))
      .select(col(entityCol), col(valueCol))
  }

  /** Per-key ordinary-least-squares trend (slope + intercept) over
    * (x, y) points — the "is this metric drifting" feature computed per
    * segment: daily-revenue slope per region, quality-score trend per
    * source. Closed form over the five classic sums:
    * {{{ slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) }}}
    *
    * ENGINE-EXACT BY CONSTRUCTION: the five sums aggregate in exact
    * arithmetic (x integral, y DECIMAL — both sum without rounding,
    * order-independent), are cast to double ONCE (IEEE rounding of an
    * exact value — every engine produces the same double), and the
    * closed form is then fixed-shape double arithmetic. Never sum
    * doubles: a float Σxy differs by summation order across engines
    * and partitionings. Caller contract: x·y and x² must fit the
    * DECIMAL/long range (center x to a small index first for epoch-
    * scale x).
    *
    * SCALE SHAPE: one map-side-combined aggregate — five sums per key,
    * nothing else moves. Groups with n < 2 or zero x-variance emit
    * NULL slope/intercept (vertical line), not a division error.
    */
  def groupTrend(df: DataFrame, keyCols: Seq[String], xCol: String,
                 yCol: String): DataFrame = {
    val x = col(xCol)
    val y = col(yCol)
    val sums = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"), sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * y).as("_sxy"), sum(x * x).as("_sxx"))
    val n = col("_n").cast("double")
    val sx = col("_sx").cast("double")
    val sy = col("_sy").cast("double")
    val den = n * col("_sxx").cast("double") - sx * sx
    val rawSlope = (n * col("_sxy").cast("double") - sx * sy) / den
    sums
      .withColumn("slope",
        when(den =!= 0d, round(rawSlope, 6)))
      .withColumn("intercept",
        when(den =!= 0d, round((sy - rawSlope * sx) / n, 6)))
      .drop("_sx", "_sy", "_sxy", "_sxx")
      .withColumnRenamed("_n", "n_points")
  }

  /** Quantile binning: assign each row the 1-based bin of its value
    * among the GLOBAL interpolated quantile boundaries at `probs`
    * (bin = 1 + #boundaries strictly below the value) — the
    * quintile/decile coding step behind RFM segmentation and score
    * calibration. Boundaries come from ONE [[exactPercentiles]] pass
    * (its `orderBuckets` knob is the global-sort scale path) and reach
    * every row as a one-row broadcast; the assignment itself is a
    * scan-stage when-chain. Boundary semantics are "strictly greater
    * than the boundary advances the bin" — ties sit in the lower bin,
    * the same rule an oracle can state with comparisons.
    */
  def quantileBin(df: DataFrame, valueCol: String, probs: Seq[Double],
                  binCol: String, orderBuckets: Int = 0): DataFrame = {
    val labeled = probs.zipWithIndex.map { case (p, i) => (s"_qb_$i", p) }
    val bounds = exactPercentiles(
      df.select(col(valueCol).cast("double").as("_qv")), Nil, "_qv",
      labeled, orderBuckets)
    val bin = labeled.map { case (l, _) =>
      when(col(valueCol).cast("double") > col(l), 1).otherwise(0)
    }.reduce(_ + _) + lit(1)
    // a NULL value gets a NULL bin — each `null > bound` term yields 0,
    // so without the guard NULLs would silently land in bin 1
    df.crossJoin(broadcast(bounds))
      .withColumn(binCol, when(col(valueCol).isNotNull, bin))
      .drop(labeled.map(_._1): _*)
  }

  /** Lower weighted median per key: the smallest value whose cumulative
    * weight reaches half the total, `min{ v : 2·cumW(v) ≥ W }` — the
    * "median document quality weighted by token count" form where every
    * row votes with its size, not once. The LOWER median (not
    * interpolated) keeps the arithmetic INTEGER-EXACT for integral
    * weights: the defining comparison is `2·cumW ≥ W`, no division, so
    * the oracle can state it verbatim.
    *
    * SCALE SHAPE: weights aggregate per (key, value) map-side first;
    * the cumulative window runs over DISTINCT values per key (the
    * exactPercentiles shape); the winner is a conditional-min
    * AGGREGATE, not another sort. NULL values carry no weight and
    * cannot win.
    */
  def weightedMedian(df: DataFrame, keyCols: Seq[String],
                     valueCol: String, weightCol: String): DataFrame = {
    val key = keyCols.map(col)
    val perValue = df
      .where(col(valueCol).isNotNull)
      .groupBy(key :+ col(valueCol): _*)
      .agg(sum(col(weightCol)).as("_w"))
    val wCum = Window.partitionBy(key: _*).orderBy(col(valueCol))
    val wAll = Window.partitionBy(key: _*)
    perValue
      .withColumn("_cum", sum(col("_w")).over(wCum))
      .withColumn("_tot", sum(col("_w")).over(wAll))
      .groupBy(key: _*)
      .agg(min(when(col("_cum") * 2 >= col("_tot"), col(valueCol)))
        .as("w_median"))
  }

  /** Mergeable aggregate-state maintenance: combine a BASE aggregate
    * table with a DELTA batch's aggregates without rescanning base —
    * the incremental-view-maintenance step a daily pipeline runs
    * instead of a full recompute. Works for any commutative state
    * (sum/count/min/max here); correctness contract: merge(base(A),
    * agg(B)) == agg(A ∪ B), which the oracle states as the full
    * recompute.
    *
    * SCALE SHAPE: one full-outer hash join on the key — the delta side
    * is the day's data (small); base never rescans its history. At
    * warehouse scale base is a bucketed table and the join is
    * zero-exchange on the bucket key (the q45/q92 pattern).
    */
  def mergeAggStates(base: DataFrame, delta: DataFrame,
                     keyCols: Seq[String], nCol: String, sumCol: String,
                     minCol: String, maxCol: String): DataFrame = {
    val b = base.select(keyCols.map(col) ++ Seq(col(nCol).as("_bn"),
      col(sumCol).as("_bs"), col(minCol).as("_bmin"),
      col(maxCol).as("_bmax")): _*)
    val d = delta.select(keyCols.map(col) ++ Seq(col(nCol).as("_dn"),
      col(sumCol).as("_ds"), col(minCol).as("_dmin"),
      col(maxCol).as("_dmax")): _*)
    b.join(d, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col("_bn"), lit(0L)) + coalesce(col("_dn"), lit(0L)))
          .as(nCol),
        (coalesce(col("_bs"), lit(0).cast(b.schema("_bs").dataType)) +
         coalesce(col("_ds"), lit(0).cast(b.schema("_bs").dataType)))
          .as(sumCol),
        least(coalesce(col("_bmin"), col("_dmin")),
          coalesce(col("_dmin"), col("_bmin"))).as(minCol),
        greatest(coalesce(col("_bmax"), col("_dmax")),
          coalesce(col("_dmax"), col("_bmax"))).as(maxCol)): _*)
  }

  /** One-sided CUSUM (cumulative sum control chart) per key: the
    * classic drift detector `S_i = max(0, S_{i−1} + (x_i − target))`,
    * flagging rows where S exceeds a threshold. The recursion LOOKS
    * sequential, but distributes exactly via the prefix identity
    * {{{ S_i = P_i − min(0, min_{j≤i} P_j) }}}
    * (P = running sum of deviations): max-with-zero resets are
    * equivalent to subtracting the lowest water mark. Two stacked
    * windows per key — a prefix sum and a running min — replace the
    * row-at-a-time loop; DECIMAL deviations keep every S engine-exact.
    *
    * Returns input + `cusum`, filtered to `cusum > threshold` rows
    * (the alerts). Order within a key is (tsCol, tieCol).
    */
  def cusumAlerts(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  tieCol: String, valueCol: String, target: Double,
                  threshold: Double): DataFrame = {
    val key = keyCols.map(col)
    val w = Window.partitionBy(key: _*)
      .orderBy(col(tsCol), col(tieCol))
    val dev = col(valueCol).cast("decimal(18,4)") -
      lit(target).cast("decimal(18,4)")
    val withP = df.withColumn("_p", sum(dev).over(w))
    val s = col("_p") - least(lit(0).cast("decimal(38,4)"),
      min(col("_p")).over(w))
    withP.withColumn("cusum", s)
      .where(col("cusum") > lit(threshold).cast("decimal(18,4)"))
      .drop("_p")
  }

  /** Per-key Pearson correlation with the [[groupTrend]] exactness
    * contract: the five sums aggregate in exact arithmetic (DECIMAL /
    * integral), cast to double once, and
    * {{{ r = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)) }}}
    * is fixed-shape double arithmetic — NOT the streaming-covariance
    * recurrence built-in `corr()`s use, whose intermediate rounding is
    * engine- and order-dependent and can never hash-match an oracle.
    * Zero variance on either side yields NULL. One map-side-combined
    * aggregate; nothing else moves.
    */
  def groupCorr(df: DataFrame, keyCols: Seq[String], xCol: String,
                yCol: String): DataFrame = {
    val x = col(xCol)
    val y = col(yCol)
    val both = df.where(x.isNotNull && y.isNotNull)
    val sums = both.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"), sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * y).as("_sxy"), sum(x * x).as("_sxx"),
        sum(y * y).as("_syy"))
    val n = col("_n").cast("double")
    val sx = col("_sx").cast("double")
    val sy = col("_sy").cast("double")
    val varX = n * col("_sxx").cast("double") - sx * sx
    val varY = n * col("_syy").cast("double") - sy * sy
    val cov = n * col("_sxy").cast("double") - sx * sy
    sums
      .withColumn("corr",
        when(varX > 0d && varY > 0d,
          round(cov / sqrt(varX * varY), 6)))
      .drop("_sx", "_sy", "_sxy", "_sxx", "_syy")
      .withColumnRenamed("_n", "n_points")
  }

  /** Keyed top-mass cut (the per-key [[paretoCover]]): within each
    * key, the smallest value-descending prefix of entities whose
    * values reach `shareNum/shareDen` of the KEY's total — "which
    * sources are 90% of each language's characters", the nucleus-style
    * pruning step mixture pipelines run per stratum. Membership is the
    * same rational boundary test, `(cum − v)·den < tot·num`, in exact
    * integer/DECIMAL arithmetic; ties break by entity.
    *
    * SCALE SHAPE: both windows partition BY THE KEY (cumulative over
    * the per-key entity list, total as a same-partition window) — one
    * exchange, state bounded by entities-per-key. The global form with
    * its range-partitioned prefix is [[paretoCover]]; use that when
    * there is only one (or a skewed-huge) key.
    */
  def topMassPerKey(per: DataFrame, keyCols: Seq[String],
                    entityCol: String, valueCol: String,
                    shareNum: Int, shareDen: Int): DataFrame = {
    require(shareNum > 0 && shareDen > shareNum,
      "share must be a proper fraction")
    val key = keyCols.map(col)
    val wCum = Window.partitionBy(key: _*)
      .orderBy(col(valueCol).desc, col(entityCol))
    val wAll = Window.partitionBy(key: _*)
    per
      .withColumn("_cum", sum(col(valueCol)).over(wCum))
      .withColumn("_tot", sum(col(valueCol)).over(wAll))
      .where((col("_cum") - col(valueCol)) * lit(shareDen) <
        col("_tot") * lit(shareNum))
      .drop("_cum", "_tot")
  }

  /** Driver-collected approximate range cut points over `pos` (cast to
    * double), deduplicated ascending — the prefix protocol's partition
    * boundaries as LITERALS. ≤ buckets−1 scalars: a bounded collect,
    * the same audited class as Sampling's stratum counts. Collecting
    * once and embedding the cuts in the plan makes every consuming
    * branch see THE SAME boundaries BY CONSTRUCTION — recomputation
    * cannot re-sample them — which retires the pinned materialization
    * of the distinct-value table that used to guarantee boundary
    * consistency (r13 measured the pin at ~0.6 s on q180 at sf0.1; at
    * 100 TB a row-level checkpoint of the distinct-value table is the
    * wrong trade when two cheap map-side re-aggregations are the
    * worst case). Nil (empty/all-NULL input or buckets ≤ 1) means one
    * bucket. Exactness needs nothing from the cuts: ANY split points
    * only partition the order; the offsets are summed, not estimated.
    */
  private def collectedCuts(df: DataFrame, pos: Column,
                            buckets: Int): Seq[Double] = {
    if (buckets <= 1) Nil
    else {
      val probs = (1 until buckets).map(_.toDouble / buckets)
      val row = df.agg(percentile_approx(pos.cast("double"),
        array(probs.map(lit): _*), lit(10000)).as("_cuts")).head()
      if (row.isNullAt(0)) Nil
      else row.getSeq[Double](0).distinct.sorted
    }
  }

  /** Bucket id for `pos` against literal `cuts`: 1 + #cuts strictly
    * below (ascending order) or strictly above (descending) — the
    * width_bucket of the cut-literal protocol. Monotone along the
    * scan order (NULLs compare to nothing and land in bucket 1, the
    * same end of the order Spark's range partitioning sends them),
    * ties share a bucket, and the fold of ≤31 comparisons stays in
    * whole-stage codegen.
    */
  private def cutBucket(pos: Column, cuts: Seq[Double],
                        ascending: Boolean): Column =
    cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(if (ascending) pos > lit(c) else pos < lit(c), 1)
        .otherwise(0)
    }

  /** Exact global percent rank per row — `#values strictly below /
    * (n − 1)`, the SQL `percent_rank()` definition with ties sharing a
    * rank — WITHOUT the global single-partition window that definition
    * tempts: score calibration ("this document is cleaner than 93% of
    * the corpus") over billions of rows can't funnel through one task.
    *
    * SCALE SHAPE (the paretoCover/skyline prefix protocol): counts per
    * DISTINCT value map-side, range-partition the distinct-value table,
    * per-partition running count + a ≤`buckets`-row offset prefix, then
    * ONE broadcastable (distinct-value-sized) rank table joins back to
    * the rows. n arrives as a one-row broadcast. A single-row input
    * gets rank 0 (the SQL convention), not a 0/0.
    */
  def percentRank(df: DataFrame, valueCol: String,
                  buckets: Int = 32): DataFrame = {
    val counts = df.groupBy(col(valueCol)).agg(count(lit(1)).as("_c"))
    // cut-literal protocol (see collectedCuts): boundaries are driver
    // literals, so the offsets and ranks branches see one partitioning
    // by construction — no pin, no range sampler, and the window's
    // hash exchange on _pid is the ONLY exchange of the distinct table
    val ranged = counts.withColumn("_pid",
      cutBucket(col(valueCol), collectedCuts(counts, col(valueCol),
        buckets), ascending = true))
    val wIn = Window.partitionBy(col("_pid")).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withIn = ranged.withColumn("_below_in",
      coalesce(sum(col("_c")).over(wIn), lit(0L)))
    val wOff = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withIn.groupBy(col("_pid"))
      .agg(sum(col("_c")).as("_pt"))
      .withColumn("_off", coalesce(sum(col("_pt")).over(wOff), lit(0L)))
      .select(col("_pid"), col("_off"))
    val n = df.agg(count(lit(1)).as("_n"))
    val ranks = withIn.join(broadcast(offsets), "_pid")
      .select(col(valueCol),
        (col("_below_in") + col("_off")).as("_below"))
    df.join(ranks, Seq(valueCol))
      .crossJoin(broadcast(n))
      .withColumn("pct_rank",
        when(col("_n") > 1,
          col("_below").cast("double") / (col("_n") - 1).cast("double"))
          .otherwise(lit(0.0)))
      .drop("_below", "_n")
  }

  /** 2-D skyline (Pareto frontier): rows not strictly dominated under
    * (minimize x, maximize y) — "cheapest for its capability" frontier
    * extraction. Dominance: q beats p iff q.x ≤ p.x ∧ q.y ≥ p.y with
    * one inequality strict; equal-(x,y) duplicates are mutually
    * non-dominated and all survive.
    *
    * SCALE SHAPE — no self-join, no all-pairs: collapse to the max y
    * per distinct x (map-side agg; anything below it at the same x is
    * dominated), then a RANGE-PARTITIONED prefix max over x-ascending
    * order decides each x in one pass — per-partition running max +
    * a ≤`buckets`-row offset table, the paretoCover protocol. A row
    * survives iff y equals its x's max AND every strictly-smaller x
    * has prefix-max < y.
    */
  def skyline2d(df: DataFrame, xCol: String, yCol: String,
                buckets: Int = 32): DataFrame = {
    val perX = df.groupBy(col(xCol)).agg(max(col(yCol)).as("_my"))
    // cut-literal protocol (see percentRank) — offsets and frontier
    // branches share driver-literal boundaries; no pin, no sampler
    val ranged = perX.withColumn("_pid",
      cutBucket(col(xCol), collectedCuts(perX, col(xCol), buckets),
        ascending = true))
    val wIn = Window.partitionBy(col("_pid")).orderBy(col(xCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPrev = ranged.withColumn("_pmaxIn",
      max(col("_my")).over(wIn))
    val wOff = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withPrev.groupBy(col("_pid"))
      .agg(max(col("_my")).as("_pt"))
      .withColumn("_off", max(col("_pt")).over(wOff))
      .select(col("_pid"), col("_off"))
    val frontier = withPrev.join(broadcast(offsets), "_pid")
      .withColumn("_pmax", greatest(
        coalesce(col("_pmaxIn"), col("_off")),
        coalesce(col("_off"), col("_pmaxIn"))))
      .where(col("_pmax").isNull || col("_pmax") < col("_my"))
      .select(col(xCol), col("_my"))
    df.join(frontier.withColumnRenamed("_my", "_fy"), Seq(xCol))
      .where(col(yCol) === col("_fy"))
      .drop("_fy")
  }

  /** Per-key moving average/count over a trailing TIME window — a
    * RANGE frame ([t−windowSec, t] over the numeric time column), not a
    * ROWS frame: the window is defined by elapsed time, so gaps and
    * bursts weight correctly (5 events in the last hour vs exactly-5
    * preceding rows). Equal-time peers all see the full peer set —
    * deterministic under ties, unlike a ROWS frame whose tie order is
    * partition-dependent.
    *
    * SCALE SHAPE: one hash exchange on the key + one partition-local
    * sort — the standard window plan; state per key is the in-frame
    * row buffer, bounded by events-per-window.
    */
  def movingTimeAvg(df: DataFrame, keyCols: Seq[String], tsSecCol: String,
                    valueCol: String, windowSec: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsSecCol))
      .rangeBetween(-windowSec, 0)
    df.withColumn("moving_avg", round(avg(col(valueCol)).over(w), 6))
      .withColumn("n_in_window", count(lit(1)).over(w))
  }

  /** Linear interpolation of missing values over a per-key time
    * series: interior NULLs lerp between the nearest non-null
    * neighbors, leading/trailing NULLs take the nearest known value —
    * the telemetry gap-repair [[gapFillLocf]]'s step-function fill is
    * too crude for (a slowly varying sensor reads 10 … NULL … 20:
    * LOCF says 10, the truth is ~15).
    *
    * SCALE SHAPE: two RUNNING window passes sharing ONE exchange —
    * last-non-null over ascending time for the backward neighbor, and
    * the forward neighbor as last-non-null over DESCENDING time
    * (`unboundedPreceding → currentRow` both ways). Both are growing
    * frames Spark evaluates in O(n) per key; the naive forward frame
    * (`currentRow → unboundedFollowing`) is executed by
    * `UnboundedFollowingWindowFunctionFrame`, which re-scans the rest
    * of the partition per row — O(n²) per key, a measured 68 s vs
    * <2 s at sf0.1. Costs one extra sort of the same exchange. The
    * lerp itself is a scan-stage projection; nothing else moves.
    */
  def linearInterp(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wBack = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val known = when(col(valCol).isNotNull,
      struct(col(tsCol).as("t"), col(valCol).as("v")))
    val pv = last(known, ignoreNulls = true).over(wBack)
    val nv = last(known, ignoreNulls = true).over(wFwd)
    df.withColumn("_pv", pv).withColumn("_nv", nv)
      .withColumn("interp",
        when(col(valCol).isNotNull, col(valCol))
          .when(col("_pv").isNull, col("_nv.v"))
          .when(col("_nv").isNull, col("_pv.v"))
          .otherwise(col("_pv.v") +
            (col("_nv.v") - col("_pv.v")) *
            ((col(tsCol) - col("_pv.t")).cast("double") /
             (col("_nv.t") - col("_pv.t")).cast("double"))))
      .drop("_pv", "_nv")
  }

  /** Frequent contiguous event SEQUENCES of length `n` (sequential
    * pattern mining, the contiguous special case): within each
    * `partCol` stream ordered by `orderCols`, every window of n
    * consecutive items is an occurrence; sequences occurring at least
    * `minSupport` times across all streams are emitted with their
    * support. The contiguous restriction is what keeps this ONE
    * window pass + ONE aggregation — general (gappy) PrefixSpan
    * grows a candidate lattice; contiguous n-grams over event streams
    * are the funnel-discovery workhorse ("which 3-step paths actually
    * happen", feeding [[graft.operators.Funnel]] with candidates).
    *
    * SCALE SHAPE: n−1 `lead()`s over one per-key window (a single
    * exchange on partCol — the same sort also serves all n leads),
    * then a map-side-combined count. No self-joins: an n-gram join
    * formulation would shuffle the stream n times.
    *
    * Returns (step_1 … step_n, support) — only complete windows
    * count (streams shorter than n emit nothing).
    */
  def sequenceSupport(df: DataFrame, partCol: String,
                      orderCols: Seq[Column], itemCol: String,
                      n: Int, minSupport: Long): DataFrame = {
    require(n >= 2, "n must be >= 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol)).orderBy(orderCols: _*)
    val stepCols = (1 until n).map(j =>
      lead(col(itemCol), j).over(w).as(s"step_${j + 1}"))
    val grams = df
      .select(col(partCol) +: col(itemCol).as("step_1") +: stepCols: _*)
      .where(col(s"step_$n").isNotNull)
    grams.groupBy((1 to n).map(j => col(s"step_$j")): _*)
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
  }

  /** Exclusive (strictly-below) running sums of `sumCols` over the
    * per-(key, value) table `counts`, ordered by `valueCol` — the shared
    * rank pass behind [[aucByKey]] and [[giniByKey]]. `counts` must have
    * at most one row per (key, value) (it comes from a groupBy), so the
    * window order is total and the result deterministic.
    *
    * SCALE SHAPE: same contract as [[exactPercentiles]]'s rank pass —
    * orderBuckets = 0 runs one cumulative window per key; B > 1 first
    * range-splits the value domain by approx-quantile boundaries (any
    * split preserves exactness: the sums are per-row and the boundaries
    * only partition the sort), runs the heavy window per (key, bucket)
    * on #keys×B tasks, and offsets each bucket by the broadcast B-row
    * per-key prefix of bucket totals. Adds `_cb_<c>` per input column.
    */
  private def withExclusiveCum(counts: DataFrame, keyCols: Seq[String],
                               valueCol: String, sumCols: Seq[String],
                               orderBuckets: Int,
                               nonNegativeExtras: Boolean = true)
      : DataFrame = {
    val key = keyCols.map(col)
    def below(w: org.apache.spark.sql.expressions.WindowSpec,
              prefix: String) =
      sumCols.map(c => coalesce(
        sum(col(c)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as(s"$prefix$c"))
    if (orderBuckets > 1) {
      // nonNegativeExtras = the caller guarantees every non-key,
      // non-value column of `counts` is >= 0 (they are counts) — the
      // boundary branch then guards on ALL of them so its copy of the
      // counts subtree stays column-identical to the segment branch's
      // and the two share one exchange (Skew.approxBoundaries
      // pruneGuardCols scaladoc). sweepConcurrency's signed deltas
      // opt out and keep the r18 duplicated-subtree shape.
      val guards =
        if (nonNegativeExtras)
          counts.columns.toSeq
            .filterNot((keyCols :+ valueCol).toSet)
        else Nil
      val bounds = Skew.approxBoundaries(counts, keyCols, valueCol,
        orderBuckets, pruneGuardCols = guards)
      val seg = Skew.segmentByBoundaries(counts, bounds, keyCols,
        valueCol, "_ob")
      val wIn = Window.partitionBy((key :+ col("_ob")): _*)
        .orderBy(col(valueCol))
      val within = seg.select(seg.columns.toIndexedSeq.map(col) ++
        below(wIn, "_incb_"): _*)
      // bucket totals -> exclusive prefix across buckets, per key; the
      // offset table is B rows per key, broadcast back null-safely (the
      // exactPercentiles NULL-key lesson applies verbatim)
      val btAggs = sumCols.map(c => sum(col(c)).as(s"_bt_$c"))
      val totals = seg.groupBy((key :+ col("_ob")): _*)
        .agg(btAggs.head, btAggs.tail: _*)
      val wOff = Window.partitionBy(key: _*).orderBy(col("_ob"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = totals.select(
        keyCols.map(c => col(c).as(s"_ok_$c")) ++
          Seq(col("_ob").as("_oob")) ++
          sumCols.map(c => coalesce(sum(col(s"_bt_$c")).over(wOff),
            lit(0L)).as(s"_off_$c")): _*)
      val cond = keyCols.map(c => col(c) <=> col(s"_ok_$c"))
        .foldLeft(col("_ob") <=> col("_oob"))(_ && _)
      within.join(broadcast(offs), cond)
        .select(counts.columns.toIndexedSeq.map(col) ++ sumCols.map(c =>
          (col(s"_off_$c") + col(s"_incb_$c")).as(s"_cb_$c")): _*)
    } else {
      val wCum = Window.partitionBy(key: _*).orderBy(col(valueCol))
      counts.select(counts.columns.toIndexedSeq.map(col) ++ below(wCum, "_cb_"): _*)
    }
  }

  /** Exact ROC AUC per key with midrank tie handling — the
    * Mann-Whitney U form: for each distinct score v,
    * {{{ contribution(v) = pos(v) · (neg(<v) + neg(v)/2) }}}
    * and AUC = Σ contribution / (P·N). Doubling keeps every term an
    * INTEGER (2·contribution = pos·(2·negBelow + neg)), summed in
    * DECIMAL(38,0) — exact and order-independent until the single final
    * division, so the oracle can state the identical arithmetic.
    * Equals sklearn's roc_auc_score (ties = trapezoid rule).
    *
    * SCALE SHAPE: scores aggregate per (key, score) map-side first (the
    * shuffle carries distinct scores, not rows); the rank pass is
    * [[withExclusiveCum]] with its orderBuckets contract; the finish is
    * one more aggregate. Never a per-row window, never a sort of the
    * fact table. NULL scores and NULL labels are excluded. Keys with
    * P = 0 or N = 0 return NULL auc (undefined, not 0).
    */
  def aucByKey(df: DataFrame, keyCols: Seq[String], scoreCol: String,
               labelCol: Column, orderBuckets: Int = 0): DataFrame = {
    val key = keyCols.map(col)
    val counts = df
      .where(col(scoreCol).isNotNull && labelCol.isNotNull)
      .groupBy((key :+ col(scoreCol)): _*)
      .agg(sum(when(labelCol, 1L).otherwise(0L)).as("_pc"),
           sum(when(labelCol, 0L).otherwise(1L)).as("_nc"))
    val cum = withExclusiveCum(counts, keyCols, scoreCol, Seq("_nc"),
      orderBuckets)
    cum.groupBy(key: _*)
      .agg(sum(col("_pc")).as("positives"),
           sum(col("_nc")).as("negatives"),
           sum((col("_pc") * (lit(2L) * col("_cb__nc") + col("_nc")))
             .cast("decimal(38,0)")).as("_s2"))
      .select(key ++ Seq(col("positives"), col("negatives"),
        // single-class keys are UNDEFINED, not 0 — and under ANSI mode
        // the division must be guarded, not left to error at runtime
        when(col("positives") > 0 && col("negatives") > 0,
          round(col("_s2").cast("double") /
            (lit(2.0) * col("positives").cast("double") *
              col("negatives").cast("double")), 9)).as("auc")): _*)
  }

  /** Gini concentration coefficient per key over one row per entity:
    * with values sorted ascending and 1-based ranks,
    * {{{ G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) }}}
    * Ties need no tiebreak: a run of c equal values starting at rank r
    * contributes x·(c·r + c(c−1)/2) regardless of intra-run order, which
    * is exactly how it is computed — per DISTINCT value, from the
    * exclusive cumulative count. `valueCol` must be DECIMAL (the caller
    * chooses the scale): Σ rank·x then stays decimal-exact and
    * order-independent until the final division, and the oracle's
    * row_number() formulation lands on identical bits.
    *
    * SCALE SHAPE: one map-side-combined aggregate per (key, value), the
    * [[withExclusiveCum]] rank pass (orderBuckets contract for huge
    * keys), one final aggregate. The usual row_number()-over-everything
    * formulation sorts the entity table through one task per key; this
    * never ranks rows at all.
    */
  def giniByKey(df: DataFrame, keyCols: Seq[String], valueCol: String,
                orderBuckets: Int = 0): DataFrame = {
    val key = keyCols.map(col)
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy((key :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("_c"))
    val cum = withExclusiveCum(counts, keyCols, valueCol, Seq("_c"),
      orderBuckets)
    // Σ over the c entities at value x, first rank r = below+1:
    //   Σ_{j=0..c-1} (r+j)·x = x·(c·r + c(c−1)/2)
    val rankMass = (col(valueCol) *
      (col("_c") * (col("_cb__c") + lit(1L)) +
        (col("_c") * (col("_c") - lit(1L))) / lit(2L))
        .cast("decimal(20,0)")).cast("decimal(38,6)")
    cum.groupBy(key: _*)
      .agg(sum(col("_c")).as("n"),
           sum(col(valueCol).cast("decimal(38,6)") * col("_c"))
             .cast("decimal(38,6)").as("_s0"),
           sum(rankMass).cast("decimal(38,6)").as("_s1"))
      .select(key ++ Seq(col("n"),
        // an all-zero key has no concentration to measure (and ANSI
        // mode would error the 0-denominator division)
        when(col("_s0") =!= lit(0).cast("decimal(38,6)"),
          round((lit(2L) * col("_s1") -
              (col("n") + lit(1L)) * col("_s0")).cast("double") /
            (col("n") * col("_s0")).cast("double"), 9)).as("gini")): _*)
  }

  /** NDCG@k per key — ranking-quality evaluation of a score column
    * against a graded relevance column: rank by score (desc, `tieCol`
    * tiebreak), DCG@k = Σ_{i≤k} rel_i / log2(i+1), IDCG@k = the same
    * under the ideal (relevance-desc) ordering, NDCG = DCG/IDCG (NULL
    * when a key has no relevant rows — undefined, not 0).
    *
    * Determinism: each position's contribution is rounded to 9 decimals
    * and summed as DECIMAL — order-independent, and the 1-ulp log2
    * differences between engines sit ~7 orders below the rounding
    * grain. SCALE SHAPE: two row_number passes over the SAME per-key
    * exchange (one shuffle, two sorts), then one aggregate; keys are
    * users/queries — many and small, the balanced window regime.
    */
  def ndcgAtK(df: DataFrame, keyCols: Seq[String], scoreCol: String,
              relCol: String, k: Int, tieCol: String): DataFrame = {
    val key = keyCols.map(col)
    val wS = Window.partitionBy(key: _*)
      .orderBy(col(scoreCol).desc, col(tieCol))
    val wI = Window.partitionBy(key: _*)
      .orderBy(col(relCol).desc, col(tieCol))
    val ranked = df
      .withColumn("_rn", row_number().over(wS))
      .withColumn("_irn", row_number().over(wI))
    def gain(rankCol: String) = sum(
      when(col(rankCol) <= k,
        round(col(relCol).cast("double") /
          log2(col(rankCol).cast("double") + lit(1.0)), 9)
          .cast("decimal(18,9)"))
        .otherwise(lit(0).cast("decimal(18,9)")))
    ranked.groupBy(key: _*)
      .agg(gain("_rn").as("_dcg"), gain("_irn").as("_idcg"))
      .select(key ++ Seq(
        col("_dcg").cast("double").as("dcg"),
        col("_idcg").cast("double").as("idcg"),
        when(col("_idcg") > 0,
          round(col("_dcg").cast("double") /
            col("_idcg").cast("double"), 6)).as("ndcg")): _*)
  }

  /** Precision/recall/F1 at each of the score's own `probs` quantile
    * thresholds (predicted-positive ⇔ score > threshold) — the
    * threshold-sweep table behind a PR curve, against exact
    * [[exactPercentiles]] cut points so the oracle can reproduce them
    * bit-for-bit via quantile_cont.
    *
    * SCALE SHAPE: the threshold table is |probs| rows, broadcast; the
    * fan-out join is scan-stage (each row evaluates |probs| predicates)
    * and the aggregate combines map-side to |probs| rows. Rows with
    * NULL score or label are excluded. Zero-denominator cells (nothing
    * predicted positive / no positives) are NULL, not 0.
    */
  def prAtThresholds(df: DataFrame, scoreCol: String, labelCol: Column,
                     probs: Seq[Double]): DataFrame = {
    val labeled = probs.zipWithIndex.map { case (p, i) => (s"_th_$i", p) }
    val cuts = exactPercentiles(
      df.select(col(scoreCol).cast("double").as("_s")), Nil, "_s",
      labeled)
    val thresholds = cuts.select(explode(array(labeled.map {
      case (l, p) => struct(lit(p).as("prob"), col(l).as("threshold"))
    }: _*)).as("_t")).select(col("_t.prob"), col("_t.threshold"))
    df.where(col(scoreCol).isNotNull && labelCol.isNotNull)
      .select(col(scoreCol).cast("double").as("_s"), labelCol.as("_y"))
      .crossJoin(broadcast(thresholds))
      .groupBy(col("prob"), col("threshold"))
      .agg(
        sum(when(col("_y") && col("_s") > col("threshold"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(!col("_y") && col("_s") > col("threshold"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("_y") && !(col("_s") > col("threshold")), 1L)
          .otherwise(0L)).as("fn"))
      .select(col("prob"), round(col("threshold"), 6).as("threshold"),
        col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0, round(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
        when(col("tp") + col("fn") > 0, round(col("tp").cast("double") /
          (col("tp") + col("fn")).cast("double"), 6)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * col("tp").cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"),
            6)).as("f1"))
  }

  /** Exact Spearman rank correlation per key between two columns, with
    * midrank (average-rank) tie handling — the monotone-association
    * audit that is robust where Pearson is dragged by outliers.
    *
    * DOUBLED midranks keep everything INTEGER: for the c rows sharing a
    * value with `below` rows strictly smaller, 2·midrank =
    * 2·below + c + 1. Spearman = Pearson over (2rx, 2ry) — scale
    * invariant — so all five sums (Σx, Σy, Σx², Σy², Σxy) accumulate
    * exactly in DECIMAL(38,0) and only the final correlation formula
    * runs in floating point, identically on both engines. Constant
    * columns (zero variance) return NULL.
    *
    * SCALE SHAPE: midranks come from [[withExclusiveCum]] over the
    * per-(key, value) DISTINCT table (its orderBuckets contract for
    * huge keys), joined back on (key, value) — distinct-value-sized
    * build sides AQE broadcasts in the common low-cardinality case;
    * then one map-side-combined aggregate. Rows with a NULL in either
    * column are excluded (pairwise-complete, the standard convention).
    */
  def spearmanByKey(df: DataFrame, keyCols: Seq[String], xCol: String,
                    yCol: String, orderBuckets: Int = 0): DataFrame = {
    val key = keyCols.map(col)
    val base = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((key :+ col(xCol) :+ col(yCol)): _*)
    def ranks(vCol: String, out: String): DataFrame = {
      val counts = base.groupBy((key :+ col(vCol)): _*)
        .agg(count(lit(1)).as("_c"))
      withExclusiveCum(counts, keyCols, vCol, Seq("_c"), orderBuckets)
        .select((key :+ col(vCol) :+
          (lit(2L) * col("_cb__c") + col("_c") + lit(1L)).as(out)): _*)
    }
    val joined = base
      .join(ranks(xCol, "_rx"), keyCols :+ xCol)
      .join(ranks(yCol, "_ry"), keyCols :+ yCol)
    def d(c: Column) = c.cast("double")
    // products are taken in DECIMAL — a doubled rank reaches 2n, so the
    // long×long square would overflow around n ≈ 2^31 rows per key
    def dec(c: Column) = c.cast("decimal(19,0)")
    val agg = joined.groupBy(key: _*).agg(
      count(lit(1)).as("_n"),
      sum(dec(col("_rx"))).as("_sx"),
      sum(dec(col("_ry"))).as("_sy"),
      sum((dec(col("_rx")) * dec(col("_rx"))).cast("decimal(38,0)"))
        .as("_sxx"),
      sum((dec(col("_ry")) * dec(col("_ry"))).cast("decimal(38,0)"))
        .as("_syy"),
      sum((dec(col("_rx")) * dec(col("_ry"))).cast("decimal(38,0)"))
        .as("_sxy"))
    val varX = d(col("_n")) * d(col("_sxx")) - d(col("_sx")) * d(col("_sx"))
    val varY = d(col("_n")) * d(col("_syy")) - d(col("_sy")) * d(col("_sy"))
    agg.select(key ++ Seq(col("_n").as("n"),
      when(varX > 0 && varY > 0,
        round((d(col("_n")) * d(col("_sxy")) -
            d(col("_sx")) * d(col("_sy"))) / sqrt(varX * varY), 6))
        .as("spearman")): _*)
  }

  /** Cross-group QUANTILE NORMALIZATION: map each row's value to the
    * GLOBAL distribution's quantile at the row's within-group relative
    * rank — the batch-effect correction that makes quality scores
    * comparable across crawl sources whose scorers drift. Convention:
    * within-group position is the MIDRANK p = (midrank−1)/(n_g−1)
    * (singleton groups sit at p = 0.5), and the global lookup uses
    * quantile_cont's `pos = p·(N−1)` linear interpolation — a group
    * whose distribution already equals the global one maps (near-)
    * identity, and every group's min/max land on the global min/max.
    *
    * SCALE SHAPE: two distinct-value rank passes ([[withExclusiveCum]],
    * orderBuckets contract) — one per (group, value), one global; the
    * global value-at-index lookup is a BANDED equi-join (indices bin
    * by `binSize`, intervals explode to their covered bins — the q8
    * pattern, never a BroadcastNestedLoop theta join); the "next
    * distinct value" needed for interpolation comes from a self
    * equi-join on interval ends (contiguous by construction), not a
    * global lead() window. The mapping table has one row per (group,
    * value) and joins back to the fact on those keys. NULL values pass
    * through with NULL qnorm.
    *
    * Determinism: positions are exact-integer arithmetic cast to
    * double once ((2·below+c−1)·(N−1) / (2·(n_g−1)) — both engines
    * evaluate the identical expression tree), and the final lerp is
    * exactPercentiles' bit-parity form.
    */
  def quantileNormalize(df: DataFrame, groupCols: Seq[String],
                        valueCol: String, binSize: Long = 1024L,
                        orderBuckets: Int = 0): DataFrame = {
    require(binSize >= 1, "binSize must be positive")
    require(groupCols.nonEmpty, "quantileNormalize needs group columns")
    val key = groupCols.map(col)
    val base = df.where(col(valueCol).isNotNull)
    // within-group doubled midrank per DISTINCT value
    val g = base.groupBy((key :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("_c"))
    val gcum = withExclusiveCum(g, groupCols, valueCol, Seq("_c"),
      orderBuckets)
    val ng = g.groupBy(key: _*).agg(sum(col("_c")).as("_ng"))
      .select(groupCols.map(c => col(c).as(s"_ngk_$c")) :+
        col("_ng"): _*)
    val ngCond = groupCols.map(c => col(c) <=> col(s"_ngk_$c"))
      .foldLeft(lit(true))(_ && _)
    val nt = base.agg(count(lit(1)).as("_nt"))
    // global distinct-value index intervals [lo, hi) + next value via
    // the contiguity self-join (hi of one interval = lo of the next)
    val gl = base.groupBy(col(valueCol).as("_gv"))
      .agg(count(lit(1)).as("_gc"))
    val gi = withExclusiveCum(gl, Nil, "_gv", Seq("_gc"), orderBuckets)
      .select(col("_gv"), col("_cb__gc").as("_lo"),
        (col("_cb__gc") + col("_gc")).as("_hi"))
    val giNext = gi.join(
      gi.select(col("_lo").as("_nxlo"), col("_gv").as("_gvnext")),
      col("_hi") === col("_nxlo"), "left").drop("_nxlo")
    // fractional global position of each (group, value)'s midrank
    val pos2 = lit(2L) * col("_cb__c") + col("_c") - lit(1L) // 2·mid − 2
    val withPos = gcum
      .join(ng, ngCond)
      .drop(groupCols.map(c => s"_ngk_$c"): _*)
      .crossJoin(broadcast(nt))
      .withColumn("_pos",
        when(col("_ng") > 1,
          pos2.cast("double") * (col("_nt") - 1).cast("double") /
            (lit(2L) * (col("_ng") - 1)).cast("double"))
          .otherwise(lit(0.5) * (col("_nt") - 1).cast("double")))
      .withColumn("_klo", floor(col("_pos")).cast("long"))
      .withColumn("_frac", col("_pos") - floor(col("_pos")))
    // banded value-at-index lookup: klo's bin must appear among the
    // interval's covered bins — equi-join on the bin, exact predicate
    // re-applied (the RangeJoin.bucketedOverlapJoin shape for a point
    // against an interval)
    val ivBinned = giNext.withColumn("_bin",
      explode(sequence(expr(s"_lo DIV $binSize"),
        expr(s"(_hi - 1) DIV $binSize"))))
    val looked = withPos.withColumn("_bin", expr(s"_klo DIV $binSize"))
      .join(ivBinned, Seq("_bin"))
      .where(col("_klo") >= col("_lo") && col("_klo") < col("_hi"))
    val vlo = col("_gv").cast("double")
    val vhi = coalesce(
      when(col("_klo") + 1 < col("_hi"), col("_gv"))
        .otherwise(col("_gvnext")).cast("double"), vlo)
    val mapping = looked.select(key ++ Seq(col(valueCol),
      round((lit(1d) - col("_frac")) * vlo + col("_frac") * vhi, 6)
        .as("qnorm")): _*)
    df.join(mapping, groupCols :+ valueCol, "left")
  }

  /** Benford first-significant-digit screen per key: observed counts of
    * the leading nonzero digit of `valueCol` against the Benford
    * expectation p(d) = log10(1 + 1/d), with a chi-square statistic per
    * key — the classic fabricated-data / corrupted-feed audit. The digit
    * is extracted from the DECIMAL(18,2) string form (regexp, not
    * floating log arithmetic — `floor(v / 10^floor(log10 v))` puts
    * boundary values like 1000.0 in the wrong digit on 1-ulp log
    * differences between engines). Zero/NULL values carry no digit and
    * are excluded; the sign is skipped by the regex. Every (key, digit)
    * cell appears even at zero observations — chi-square needs the
    * missing mass — via a distinct-keys × 1..9 spine.
    *
    * Determinism: per-digit chi-square contributions are rounded to 6
    * decimals and summed as DECIMAL — order-independent — rather than
    * float-summed. Returns (key..., digit, obs, n, expected r4,
    * obs_share r6, chi2 r6 — the per-key statistic repeated per row).
    */
  def benfordScreen(df: DataFrame, keyCols: Seq[String],
                    valueCol: String): DataFrame = {
    val key = keyCols.map(col)
    val digits = df.select(key :+
      regexp_extract(col(valueCol).cast("decimal(18,2)").cast("string"),
        "[1-9]", 0).as("_d"): _*)
      .where(col("_d") =!= "")
      .select(key :+ col("_d").cast("int").as("digit"): _*)
    val obs = digits.groupBy((key :+ col("digit")): _*)
      .agg(count(lit(1)).as("obs"))
    val allDigits = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val spine =
      if (keyCols.isEmpty) allDigits
      else digits.select(key: _*).distinct()
        .crossJoin(broadcast(allDigits))
    val cond = keyCols.map(c => col(s"spine.$c") <=> col(s"o.$c"))
      .foldLeft(col("spine.digit") === col("o.digit"))(_ && _)
    val cells = spine.as("spine").join(obs.as("o"), cond, "left")
      .select(keyCols.map(c => col(s"spine.$c")) ++ Seq(
        col("spine.digit").as("digit"),
        coalesce(col("o.obs"), lit(0L)).as("obs")): _*)
    val wk = Window.partitionBy(key: _*)
    val withExp = cells
      .withColumn("n", sum(col("obs")).over(wk))
      .withColumn("_exp", col("n").cast("double") *
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .withColumn("_contrib",
        round((col("obs").cast("double") - col("_exp")) *
          (col("obs").cast("double") - col("_exp")) / col("_exp"), 6)
          .cast("decimal(18,6)"))
    withExp
      .withColumn("chi2", sum(col("_contrib")).over(wk).cast("double"))
      .select(key ++ Seq(col("digit"), col("obs"), col("n"),
        round(col("_exp"), 4).as("expected"),
        round(col("obs").cast("double") / col("n").cast("double"), 6)
          .as("obs_share"),
        col("chi2")): _*)
  }

  /** Dependence report for two categorical columns in ONE pass over the
    * observed contingency cells: mutual information
    * {{{ MI = Σ_xy (c/N)·ln(c·N / (c_x·c_y)) }}}
    * Pearson chi², degrees of freedom, and Cramér's V — the "is this
    * feature informative about that label" screen run before any model
    * sees the data.
    *
    * ZERO CELLS NEVER MATERIALIZE: a zero cell contributes nothing to
    * MI and exactly its expectation E to chi², and Σ_allcells E = N, so
    * {{{ chi² = N + Σ_observed ((O−E)²/E − E) }}}
    * — the full |X|·|Y| grid (quadratic in cardinalities) is never
    * generated; only observed cells flow.
    *
    * DETERMINISM: every count is an exact integer; each cell's term is
    * fixed-shape double arithmetic on those integers (identical across
    * engines), and the final sums are rounded to 6 (the q122 KL
    * protocol). SCALE SHAPE: one map-side-combined cell aggregate, two
    * broadcast-sized margin tables joined back, one final aggregate.
    */
  def contingencyStats(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    // NULL POLICY: rows with a NULL category in EITHER column are
    // excluded up front (the standard complete-case contingency
    // table). Without the filter the margins disagree with the cells —
    // count(1) admits NULL-keyed rows into N while countDistinct and
    // the equi-joins drop them — and chi²/MI/V all silently shift.
    // Callers who want NULL as a real level should coalesce to a
    // sentinel category first.
    val cells = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("_c"))
    val xs = cells.groupBy(col(xCol)).agg(sum(col("_c")).as("_cx"))
    val ys = cells.groupBy(col(yCol)).agg(sum(col("_c")).as("_cy"))
    val tot = cells.agg(sum(col("_c")).as("_n"),
      countDistinct(col(xCol)).as("_nx"),
      countDistinct(col(yCol)).as("_ny"))
    val n = col("_n").cast("double")
    val c = col("_c").cast("double")
    val e = col("_cx").cast("double") * col("_cy").cast("double") / n
    val dof = (col("_nx") - 1) * (col("_ny") - 1)
    cells
      .join(broadcast(xs), xCol)
      .join(broadcast(ys), yCol)
      .crossJoin(broadcast(tot))
      .agg(
        first(col("_n")).as("n"),
        first(dof).as("dof"),
        round(sum((c / n) *
          log(c * n / (col("_cx").cast("double") *
            col("_cy").cast("double")))), 6).as("mi"),
        round(first(n) +
          sum((c - e) * (c - e) / e - e), 6).as("chi2"),
        round(sqrt((first(n) + sum((c - e) * (c - e) / e - e)) /
          (first(n) * least(first(col("_nx")) - 1,
            first(col("_ny")) - 1).cast("double"))), 6).as("cramers_v"))
  }

  /** Per-key quantile ESTIMATES from a deterministic bounded
    * subsample: the k rows with the smallest md5-order hash form a
    * uniform-without-replacement draw whose (type-1, positional)
    * quantiles estimate the key's distribution — with the state
    * BOUNDED at k rows per key and combining MAP-SIDE
    * ([[graft.functions.ReservoirAgg]]), where [[exactPercentiles]]
    * shuffles distinct values. This is the estimator to reach for when
    * keys have millions of rows and ±O(1/√k) quantile error is
    * acceptable; unlike a true random reservoir it is REPLAYABLE — an
    * oracle states the same "k smallest hashes" subsample and gets
    * bit-identical results.
    *
    * `hashCol` must be a uniform unique key (md5 of a row id upstream).
    * Quantile at q = the ceil(q·m)-th smallest sampled value (m ≤ k
    * actual sample size), floor 1.
    */
  def reservoirQuantiles(df: DataFrame, keyCols: Seq[String],
                         hashCol: String, valueCol: String,
                         probs: Seq[(String, Double)], k: Int)
      : DataFrame = {
    val ra = udaf(graft.functions.ReservoirAgg(k))
    val sampled = df.groupBy(keyCols.map(col): _*)
      .agg(ra(col(hashCol), col(valueCol)).as("_smp"))
      .withColumn("n_sample", size(col("_smp")).cast("long"))
    val qCols = probs.map { case (name, p) =>
      element_at(col("_smp"), greatest(lit(1),
        ceil(lit(p) * col("n_sample")).cast("int"))).as(name)
    }
    sampled.select(keyCols.map(col) ++ (col("n_sample") +: qCols): _*)
  }

  /** Two-sample Kolmogorov–Smirnov statistic between `groupA` and
    * `groupB`'s distributions of an INTEGRAL `valueCol`:
    * `D = max_v |F_A(v) − F_B(v)|`, computed as exact integers —
    * `max |cumA·n_B − cumB·n_A|` over distinct values, ONE double
    * division at the very end — so the statistic is engine-exact, not
    * a float-CDF race. The distribution-drift gate between two
    * corpus slices ("is src1's length distribution the same as
    * src0's?") with none of the binning choices a PSI needs.
    *
    * SCALE SHAPE: per-(value) conditional counts map-side, running
    * sums over the DISTINCT-value table (the exactPercentiles
    * distinct-value contract; the whole-partition totals frame is
    * evaluated once per partition, not per row). The default prefix
    * sum is one unpartitioned window — fine while distinct values are
    * bounded (integral lengths, scores); pass `orderBuckets > 1` to
    * route the prefix through the range-bucketed protocol instead
    * (no single-task sort anywhere — the 100 TB form for continuous
    * metrics). Returns one row: n_a, n_b, the argmax value `ks_at`
    * (smallest on ties), and `ks_stat`.
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             groupA: String, groupB: String,
             orderBuckets: Int = 0): DataFrame = {
    val counts = df
      .where(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("_v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L))
        .as("_ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("_cb"))
    // SCALE PATH (`orderBuckets > 1`): the running sums route through
    // the range-bucketed exclusive-prefix protocol (withExclusiveCum)
    // instead of one unpartitioned window — the distinct-value table
    // of a continuous metric is corpus-sized, and a single-task global
    // sort is the one non-distributed step this statistic otherwise
    // has. Totals come from a one-row broadcast instead of the
    // whole-frame window. Identical output (KsScaleSpec parity).
    val withCum =
      if (orderBuckets > 1)
        withExclusiveCum(counts, Seq.empty, "_v", Seq("_ca", "_cb"),
            orderBuckets)
          .withColumn("_cuma", col("_cb__ca") + col("_ca"))
          .withColumn("_cumb", col("_cb__cb") + col("_cb"))
          .crossJoin(broadcast(counts.agg(sum(col("_ca")).as("_na"),
            sum(col("_cb")).as("_nb"))))
      else {
        val wCum = Window.orderBy(col("_v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        counts
          .withColumn("_cuma", sum(col("_ca")).over(wCum))
          .withColumn("_cumb", sum(col("_cb")).over(wCum))
          .withColumn("_na", sum(col("_ca")).over(wAll))
          .withColumn("_nb", sum(col("_cb")).over(wAll))
      }
    withCum
      .withColumn("_d",
        abs(col("_cuma") * col("_nb") - col("_cumb") * col("_na")))
      .agg(first(col("_na")).as("n_a"), first(col("_nb")).as("n_b"),
        max(struct(col("_d"), (-col("_v")).as("_nv"))).as("_best"))
      .select(col("n_a"), col("n_b"),
        (-col("_best._nv")).as("ks_at"),
        round(col("_best._d").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("ks_stat"))
  }

  /** Concurrency curve by SWEEP LINE: how many of the input intervals
    * [startCol, endCol] (integral, inclusive bounds) are open at each
    * time unit — "concurrent sessions over time" WITHOUT any interval
    * join: each interval becomes a +1 delta at start and a −1 delta at
    * end+1, deltas aggregate per distinct time (map-side), and one
    * running sum over the delta table yields the curve. An interval-
    * stabbing join formulation pays |intervals|×|probes|; the sweep
    * pays one aggregate plus a prefix sum over DISTINCT times.
    *
    * The default running sum's window is unpartitioned, but its input
    * is the distinct-TIME table — calendar-bounded (one row per time
    * unit with activity), not data-bounded; at minute granularity a
    * decade is ~5M rows. For sub-second telemetry at 100 TB pass
    * `orderBuckets > 1`: the prefix routes through the range-bucketed
    * exclusive-prefix protocol and no single-task sort remains
    * (KsScaleSpec parity-tests both forms).
    *
    * Returns one row per time unit where the concurrency CHANGES
    * (delta ≠ 0), with the concurrency holding from that time until
    * the next emitted time.
    */
  def sweepConcurrency(df: DataFrame, startCol: String, endCol: String,
                       orderBuckets: Int = 0): DataFrame = {
    val deltas = df.select(col(startCol).as("t"), lit(1L).as("d"))
      .unionByName(df.select((col(endCol) + 1).as("t"),
        lit(-1L).as("d")))
      .groupBy(col("t")).agg(sum(col("d")).as("delta"))
      .where(col("delta") =!= 0)
    if (orderBuckets > 1)
      // the range-bucketed prefix protocol the scaladoc points to —
      // no single-task sort over the distinct-time table
      withExclusiveCum(deltas, Seq.empty, "t", Seq("delta"),
          orderBuckets, nonNegativeExtras = false)
        .withColumn("concurrency", col("_cb_delta") + col("delta"))
        .drop("_cb_delta")
    else {
      val w = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("concurrency", sum(col("delta")).over(w))
    }
  }

  /** Theil–Sen slope per key: the MEDIAN of all pairwise slopes
    * (y_j − y_i)/(x_j − x_i) — the robust trend line whose breakdown
    * point is 29%, where one corrupted day drags the OLS fit
    * ([[groupTrend]]) arbitrarily far. Lower median with a total
    * order (slope, then the pair's x's) so the result is deterministic
    * and an oracle can state it.
    *
    * QUADRATIC BY NATURE — O(n²) pairs per key — so the contract is
    * PRE-AGGREGATED series: daily/hourly rollups per key (calendar-
    * bounded n, e.g. a year of days = 66k pairs), never raw events.
    * The pair join is key-local (equi on the key), slopes in exact
    * arithmetic until ONE double division.
    */
  def theilSenSlope(df: DataFrame, keyCols: Seq[String], xCol: String,
                    yCol: String): DataFrame = {
    val key = keyCols.map(col)
    val a = df.select(key :+ col(xCol).as("_xa") :+ col(yCol).as("_ya"): _*)
    val b = df.select(key :+ col(xCol).as("_xb") :+ col(yCol).as("_yb"): _*)
    val pairs = a.join(b, keyCols)
      .where(col("_xa") < col("_xb"))
      .select(key :+ col("_xa") :+ col("_xb") :+
        ((col("_yb") - col("_ya")).cast("double") /
          (col("_xb") - col("_xa")).cast("double")).as("_s"): _*)
    val wRn = Window.partitionBy(key: _*)
      .orderBy(col("_s"), col("_xa"), col("_xb"))
    val wN = Window.partitionBy(key: _*)
    pairs
      .withColumn("_rn", row_number().over(wRn))
      .withColumn("_n", count(lit(1)).over(wN))
      // lower median position — integer DIV: Spark's `/` on longs
      // returns DOUBLE, and rn === 5.5 matches nothing
      .where(col("_rn") === expr("(_n + 1) DIV 2"))
      .select(key :+ col("_n").as("n_pairs") :+
        round(col("_s"), 6).as("ts_slope"): _*)
  }

  /** Trimmed mean per key: the exact mean after dropping the lowest
    * and highest floor(trimFrac·n) values BY POSITION (ties broken by
    * `idCol` for a total order) — the outlier-robust location estimate
    * that, unlike [[winsorize]], discards the tails instead of
    * clamping them. Positional trimming keeps everything integer-exact
    * until the final division: kept-row sums are DECIMAL, the count is
    * integral, one division then round(6).
    *
    * SCALE SHAPE: one per-key window (rank + count share the exchange
    * and sort) and one aggregate. The window shuffles all rows per key
    * — the standard per-key-rank cost (q26/q97 family); for the
    * bounded-state estimate at extreme scale use
    * [[reservoirQuantiles]]' subsample instead.
    */
  def trimmedMean(df: DataFrame, keyCols: Seq[String], valueCol: String,
                  idCol: String, trimFrac: Double): DataFrame = {
    require(trimFrac >= 0 && trimFrac < 0.5, "trimFrac in [0, 0.5)")
    val key = keyCols.map(col)
    val wRn = Window.partitionBy(key: _*)
      .orderBy(col(valueCol), col(idCol))
    val wN = Window.partitionBy(key: _*)
    val cut = floor(lit(trimFrac) * col("_n")).cast("long")
    df
      .withColumn("_rn", row_number().over(wRn))
      .withColumn("_n", count(lit(1)).over(wN))
      .where(col("_rn") > cut && col("_rn") <= col("_n") - cut)
      .groupBy(key: _*)
      .agg(count(lit(1)).as("n_kept"),
        round(sum(col(valueCol).cast("decimal(18,4)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("trimmed_mean"))
  }
}
