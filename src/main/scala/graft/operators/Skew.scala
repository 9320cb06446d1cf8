package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-aware repartitioning — the reference's hot-region splitting.
  *
  * Reference semantics: a region holding more than the average number of
  * reads is split into `segments = round(reads * factor / avg)`
  * equal-frequency sub-partitions (`program/src/main/scala/hmushtaq/sparkga1/
  * SparkGA1.scala:242,267`), with boundaries from an exact sorted-position
  * histogram + binary search (`SparkGA1.scala:346-353,405-418,550-570`).
  *
  * Spark-native: AQE already splits skewed *shuffle* partitions at runtime;
  * these helpers cover the cases AQE doesn't — groupBy-skew via two-level
  * salted aggregation, and explicit equal-frequency sub-bucketing via
  * `ntile` (exact, matches the reference's histogram semantics) or
  * `percentile_approx` boundaries (the 100 TB path: no full sort of the hot
  * key's rows, one sketch pass).
  */
object Skew {

  /** Sentinel for [[ntileSplit]]'s `orderBuckets`: derive the rank-pass
    * parallelism from the input's optimizer-stats size (see there).
    */
  val AutoBuckets: Int = -1

  /** Exact equal-frequency split: `ntile(n)` per key partition, total
    * ordering given by `orderCols` (include a unique tie-break for
    * determinism). Matches the reference's exact-histogram split.
    *
    * `orderBuckets` controls the parallelism of the rank pass — the
    * same contract as [[graft.operators.Stats.exactPercentiles]]. The
    * single-level form (0) is ONE window per key: with few keys every
    * row funnels through #keys sort tasks (the q12 bottleneck at
    * 100×). With orderBuckets = B > 1 the order domain is range-split
    * by approx-quantile boundaries on `orderCols.head` (ties share a
    * bucket — `>` comparisons — so bucket order refines the sort
    * order and any boundary set preserves exactness); the row-level
    * `row_number` window then runs per (key, bucket) on #keys×B
    * tasks, only B rows per key go through the prefix-offset window,
    * and the global position is offset + local row number. The ntile
    * bucket is integer arithmetic on (position, per-key count) —
    * Spark's NTile semantics reproduced exactly: the first n_rows%n
    * tiles get ceil(n_rows/n) rows, the rest floor(n_rows/n).
    * Results are bit-identical in both modes (given a total order).
    *
    * `orderBuckets = AutoBuckets` derives B from the INPUT SIZE
    * (optimizer stats — file bytes scaled by column pruning; an
    * estimate read at plan-build time, no job): one bucket per
    * `spark.graft.ntile.bytesPerBucket` (default 8 MB, capped at
    * 1024), so tiny inputs keep the plain window (the sketch + offset
    * machinery costs more than the 3-task sort it replaces below
    * ~10 MB — measured 1.38 → 2.48 s at sf0.1) and the bucket count
    * GROWS with the data instead of being a constant tuned for either
    * local mode or a cluster (measured at the 100× twin: 54.9 →
    * 25.9 s). Production guidance: set bytesPerBucket to the
    * sort-task shuffle target (128-256 MB); the local default is
    * small enough that a 10× staged twin already exercises the
    * bucketed path.
    */
  def ntileSplit(df: DataFrame, keyCols: Seq[String], n: Int,
                 orderCols: Seq[String],
                 segCol: String = "segment",
                 orderBuckets: Int = 0): DataFrame = {
    val buckets =
      if (orderBuckets != AutoBuckets) orderBuckets
      else {
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val per = BigInt(df.sparkSession.conf
          .get("spark.graft.ntile.bytesPerBucket", (8L << 20).toString)
          .toLong.max(1L))
        (bytes / per).min(1024).max(1).toInt
      }
    if (buckets <= 1) {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
      df.withColumn(segCol, ntile(n).over(w))
    } else {
      val key = keyCols.map(col)
      val bounds = approxBoundaries(df, keyCols, orderCols.head,
        buckets)
      val seg = segmentByBoundaries(df, bounds, keyCols,
        orderCols.head, "_ob")
      // local 1-based position within (key, order-bucket) — the heavy
      // sort, on #keys × orderBuckets tasks
      val wIn = Window.partitionBy((key :+ col("_ob")): _*)
        .orderBy(orderCols.map(col): _*)
      val withIn = seg.withColumn("_rnIn", row_number().over(wIn))
      // B rows per key: exclusive prefix of bucket sizes + key total.
      // Sizes derive from withIn (bucket size = max local row number),
      // so this aggregate rides the window's (key, _ob) exchange
      // instead of recomputing the segment subtree (the
      // exactPercentiles ReuseExchange rule).
      val totals = withIn.groupBy((key :+ col("_ob")): _*)
        .agg(max(col("_rnIn")).as("_bt"))
      val wOff = Window.partitionBy(key: _*).orderBy(col("_ob"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = totals
        .withColumn("_off", coalesce(sum(col("_bt")).over(wOff), lit(0L)))
        .withColumn("_n",
          sum(col("_bt")).over(Window.partitionBy(key: _*)))
        .select(keyCols.map(c => col(c).as(s"_ok_$c")) ++
          Seq(col("_ob").as("_oob"), col("_off"), col("_n")): _*)
      // NULL-SAFE key equality: NULL-key groups keep their offsets
      // (the exactPercentiles rule); _ob is never NULL by construction
      // (a NULL order value lands in bucket 1).
      val cond = keyCols.map(c => col(c) <=> col(s"_ok_$c"))
        .foldLeft(col("_ob") <=> col("_oob"))(_ && _)
      val pos = col("_off") + col("_rnIn") // 1-based global position
      // Spark NTile: rem = _n % n tiles of size ceil = _n DIV n + 1
      // first, then tiles of size floor = _n DIV n. Column `/` is
      // DOUBLE division — exact here (counts < 2^53) and floor() makes
      // the truncation explicit; % stays integral.
      def intDiv(a: Column, b: Column): Column =
        floor(a / b).cast("long")
      val rem = col("_n") % n
      val floorSz = intDiv(col("_n"), lit(n))
      val headRows = rem * (floorSz + lit(1L))
      val tile = when(floorSz === 0, pos) // n > n_rows: tile = position
        .when(pos <= headRows, intDiv(pos - 1, floorSz + lit(1L)) + 1)
        .otherwise(rem + intDiv(pos - headRows - 1, floorSz) + 1)
      withIn.join(broadcast(offs), cond)
        .withColumn(segCol, tile.cast("int"))
        .drop(Seq("_ob", "_rnIn", "_oob", "_off", "_n") ++
          keyCols.map(c => s"_ok_$c"): _*)
    }
  }

  /** Salted two-level aggregation: groupBy(key, salt) partial → groupBy(key)
    * final. Equivalent to plain groupBy(key).agg(sum, count) but the first
    * shuffle spreads a hot key over `saltBuckets` reducers. Use when one key
    * dominates (the reference's hot chromosome region).
    *
    * `aggs` maps output column name -> (sum-able input column). The helper
    * re-aggregates sums and counts correctly across salt buckets.
    */
  def saltedSumCount(df: DataFrame, keyCols: Seq[String], valueCol: String,
                     saltBuckets: Int): DataFrame = {
    val key = keyCols.map(col)
    // deterministic salt (hash of all columns mod buckets) — not rand(), so
    // retried tasks re-produce identical partials.
    val salt = pmod(hash(df.columns.map(col).toIndexedSeq: _*), lit(saltBuckets))
    df.withColumn("_salt", salt)
      .groupBy((key :+ col("_salt")): _*)
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(key: _*)
      .agg(sum(col("_psum")).as("sum_value"), sum(col("_pcnt")).as("n_rows"))
  }

  /** Salted join for a skewed equi-join that can't broadcast: the big
    * (skewed) side gets a deterministic salt 0..buckets-1 appended to its
    * key; the small-but-not-broadcastable side is replicated once per
    * salt value. The hot key's rows then land on `buckets` reducers
    * instead of one. AQE's skew-join handles sort-merge spills at
    * runtime; explicit salting is for when you know the hot keys up
    * front and want the first shuffle balanced too.
    *
    * SALT-CHOICE CAVEAT: the salt is `hash(ALL big-side columns) %
    * buckets` — deterministic by design (retried tasks re-produce
    * identical output; `rand()` would not). The price: big-side rows
    * that are fully identical (true duplicates of a hot key) hash to
    * ONE salt bucket and still land on one reducer. That is the right
    * trade for exactly-reproducible results; if the skew is literal
    * row duplication, either dedup-with-counts first (aggregate the
    * duplicates away, join, re-expand) or salt on a row-unique column
    * (offset, file position) when the schema carries one.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, on: Seq[String],
                 saltBuckets: Int): DataFrame = {
    val salts = explode(array((0 until saltBuckets).map(lit): _*))
    val bigSalted = big.withColumn("_salt",
      pmod(hash(big.columns.map(col).toIndexedSeq: _*), lit(saltBuckets)))
    val smallReplicated = small.withColumn("_salt", salts)
    bigSalted.join(smallReplicated, on :+ "_salt").drop("_salt")
  }

  /** Approximate equal-frequency boundaries per key for the no-full-sort
    * scale path: returns (key..., boundaries: array) where boundaries are
    * the (1/n .. (n-1)/n) quantiles of `posCol`.
    */
  def approxBoundaries(df: DataFrame, keyCols: Seq[String], posCol: String,
                       n: Int, accuracy: Int = 10000,
                       pruneGuardCols: Seq[String] = Nil): DataFrame = {
    val probs = (1 until n).map(i => i.toDouble / n)
    // pruneGuardCols (r19): consume posCol through an always-true guard
    // over the caller's NON-NEGATIVE companion columns, so this branch's
    // copy of a shared input aggregate keeps the IDENTICAL column set
    // as its sibling consumers. Without the guard, column pruning
    // specializes this copy (the count buffers drop out of the partial
    // aggregate) and ReuseExchange cannot collapse the duplicated
    // upstream scan — q219's plan carried ~6 lineitem scans because
    // each rank pass's boundary branch re-evaluated the counts subtree
    // from the source. The guard is always-true by the caller's
    // contract (counts are >= 0) and not constant-foldable (Catalyst
    // has no value-range analysis), so the column reference survives
    // optimization; boundary VALUES are unchanged, and any boundary
    // set is exactness-preserving anyway (the split points only
    // partition the sort).
    val pos = pruneGuardCols.foldLeft(col(posCol))((v, g) =>
      when(col(g) >= lit(0), v))
    df.groupBy(keyCols.map(col): _*)
      .agg(percentile_approx(pos,
        array(probs.map(lit): _*), lit(accuracy)).as("boundaries"))
  }

  /** Assign segment by searching approx boundaries (width_bucket-style):
    * segment = 1 + #boundaries below pos. Codegen'd array expression —
    * no UDF, no sort. The boundary lookup joins NULL-SAFELY on the key
    * columns, so NULL-key groups keep their segments (plain equality
    * would silently drop them — the same trap exactPercentiles hit).
    * A NULL pos lands in segment 1 (every comparison falls through).
    */
  def segmentByBoundaries(df: DataFrame, boundaries: DataFrame,
                          keyCols: Seq[String], posCol: String,
                          segCol: String = "segment"): DataFrame = {
    val b = boundaries.select(
      keyCols.map(c => col(c).as(s"_bk_$c")) :+ col("boundaries"): _*)
    // foldLeft, not reduce: keyCols may be EMPTY (global boundaries —
    // the quantileBin path), where the lookup is a pure one-row cross
    val cond = keyCols.map(c => col(c) <=> col(s"_bk_$c"))
      .foldLeft(lit(true))(_ && _)
    df.join(broadcast(b), cond)
      .withColumn(segCol,
        lit(1) + aggregate(col("boundaries"), lit(0),
          (acc, bd) => acc + when(col(posCol) > bd, 1).otherwise(0)))
      .drop(keyCols.map(c => s"_bk_$c") :+ "boundaries": _*)
  }
}
