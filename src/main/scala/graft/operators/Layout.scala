package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-side data-layout planning: the operators that decide HOW rows
  * land in files so that 100 TB reads can prune instead of scan.
  * Complements the bucketed/partitioned sinks in [[graft.sources]]:
  * those pick the directory/bucket, these pick the ROW ORDER and the
  * FILE BOUNDARIES inside it.
  *
  *  - [[zorderFileStats]]: multi-dimensional clustering via the Morton
  *    curve (`graft_zorder`) — the Delta/Iceberg `OPTIMIZE ZORDER`
  *    construction, producing per-file min/max envelopes tight on BOTH
  *    dimensions.
  *  - [[compactionPlan]]: target-size file coalescing (the small-files
  *    problem) — greedy size-descending cumulative fill, the same model
  *    as Delta OPTIMIZE / Iceberg rewrite_data_files bin-packing.
  *
  * Both are pure plans over metadata-sized inputs at production scale
  * (file listings, bucket coordinates) — deterministic, engine-exact
  * integer arithmetic throughout, so an external oracle can restate
  * them as SQL windows.
  */
object Layout {

  /** Z-order layout proof: key every row by the Morton interleave of
    * its two (caller-bucketed) cluster coordinates, cut the z-sorted
    * order into files of `rowsPerFile`, and emit each file's pruning
    * envelope — row count + min/max of both coordinates and the
    * z-value. On a z-ordered layout BOTH envelopes come out tight
    * (width ~ √(domain²·rowsPerFile/N)), which is the property a
    * planner's min/max file skipping needs to prune scans filtered on
    * EITHER dimension; a single-column sort leaves the other column's
    * envelope full-width (q190's spec states exactly that contrast).
    *
    * SCALE SHAPE: the z-key is one codegen'd expression in the scan
    * stage; the global z-sort is a range-partitioned exchange (Spark's
    * ordinary `orderBy` machinery — sampled bounds, no single-reducer
    * funnel); file ids come from the contiguous zipWithIndex over the
    * sorted partitions ([[Ordering.withGlobalIndex]] — the sorted RDD
    * is persisted so the range sort runs once); the envelope
    * aggregation is map-side combined. Nothing is collected.
    *
    * `tieBreak` makes the order total so file boundaries are
    * engine-exact (equal z-values are real: two rows in the same
    * cell). Returns (file_id, n_rows, x_min, x_max, y_min, y_max,
    * z_min, z_max).
    */
  def zorderFileStats(df: DataFrame, xCol: Column, yCol: Column,
                      tieBreak: Column, rowsPerFile: Long): DataFrame = {
    require(rowsPerFile >= 1, "rowsPerFile must be >= 1")
    val keyed = df.select(xCol.cast("long").as("x"),
        yCol.cast("long").as("y"), tieBreak.as("_tb"))
      .withColumn("z", call_function("graft_zorder", col("x"), col("y")))
    Ordering.withGlobalIndex(keyed,
        Seq(col("z").asc, col("_tb").asc), "_idx")
      .withColumn("file_id", expr(s"(_idx - 1) DIV $rowsPerFile"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"))
  }

  /** Target-size compaction plan: within each `keyCols` group (a table
    * partition), fill bins of `targetBytes` in size-DESCENDING order —
    * bin id = (cumulative bytes before this file) DIV target, i.e. a
    * file opens a new bin exactly when the running fill has crossed
    * the previous boundary. Descending order packs the large files
    * first so the tail of small files tops bins up — the greedy shape
    * Delta OPTIMIZE / Iceberg `rewrite_data_files` use; bins can
    * overshoot by at most one file (inherent to any linear fill — a
    * planner wants ~target, not an exact knapsack).
    *
    * All integer arithmetic over a per-key window (no global
    * exchange); at production scale the input is a FILE LISTING
    * (metadata, ~10⁶ rows for 100 TB), so even the per-key sort is
    * trivial. Returns one row per (key, bin): n_files, total_bytes.
    */
  def compactionPlan(files: DataFrame, keyCols: Seq[String],
                     sizeCol: String, idCol: String,
                     targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(sizeCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = files
      .withColumn("_cum", sum(col(sizeCol).cast("long")).over(w))
      .withColumn("bin",
        expr(s"(_cum - CAST($sizeCol AS BIGINT)) DIV $targetBytes"))
    binned.groupBy(keyCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("n_files"),
        sum(col(sizeCol).cast("long")).as("total_bytes"))
  }
}
