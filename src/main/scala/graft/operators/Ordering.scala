package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sorts, top-k, and size-descending scheduling.
  *
  * Reference: per-partition stable sort before BAM write
  * (`program/src/main/scala/hmushtaq/sparkga1/SparkGA1.scala:601-610`),
  * global VCF sort by (chr, pos) (`SparkGA1.scala:1190-1192,1236-1251`),
  * and largest-first task ordering (`SparkGA1.scala:60-61,1159-1161,
  * 1211-1214`).
  *
  * Spark-native: `sortWithinPartitions` (spillable SortExec, no shuffle),
  * `orderBy` (range-partitioned total sort — one sampling pass + one
  * shuffle, scales to any size), and `orderBy(desc).limit(k)` which
  * Catalyst executes as TakeOrderedAndProject — a per-partition heap + tiny
  * driver merge, NOT a full sort: the right top-k at 100 TB.
  */
object Ordering {

  /** Per-partition sort (no shuffle) — SparkGA1.scala:601-610. */
  def sortWithin(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.sortWithinPartitions(cols: _*)

  /** Global total sort — SparkGA1.scala:1236-1251 without the driver
    * collect: range exchange + per-partition sort.
    */
  def globalSort(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.orderBy(cols: _*)

  /** Top-k by `cols` descending; include a unique tie-break for
    * deterministic results. Physical plan: TakeOrderedAndProject.
    */
  def topK(df: DataFrame, k: Int, cols: Seq[Column]): DataFrame =
    df.orderBy(cols: _*).limit(k)

  /** Top-k rows PER GROUP (the per-key sibling of [[topK]]): rank by
    * `orderCols` within each key, keep rank ≤ k. Include a unique
    * tie-break column for determinism.
    *
    * SCALE SHAPE: Catalyst rewrites the rank-filter pattern into
    * WindowGroupLimit — a per-partition top-k heap BEFORE the window
    * exchange (map-side), so the shuffle carries at most k rows per
    * (input partition × key) instead of every row, and the post-shuffle
    * window only finalizes ranks. PlanSpec pins the WindowGroupLimit
    * node: losing it silently turns "k rows per key cross the wire"
    * into "the whole table does".
    */
  def topKPerGroup(df: DataFrame, keyCols: Seq[String], k: Int,
                   orderCols: Seq[Column],
                   rankName: String = "rnk"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn(rankName, row_number().over(w))
      .where(col(rankName) <= k)
  }

  /** Global sort + a stable 1-based global position column — the
    * "shuffle the corpus and number every example" step training-data
    * exports need. The naive formulation,
    * `row_number().over(Window.orderBy(...))`, collapses the whole
    * dataset into ONE partition (Spark even warns) — a driver-killer at
    * any real scale. This one stays distributed: range-partitioned sort,
    * then `zipWithIndex`, which computes per-partition offsets with one
    * lightweight count job and assigns indices map-side — no data ever
    * funnels through a single task.
    *
    * The drop to the RDD API is deliberate and contained: a global
    * *stable* index is genuinely per-partition imperative logic (Spark
    * exposes it only there), and downstream reads a plain DataFrame.
    * (Known seam: the round-trip through `RDD[Row]` +
    * `createDataFrame` leaves Tungsten/codegen rows for the tail of
    * the pipeline — acceptable for an export-shaped terminal operator;
    * feed heavy downstream transforms from the written output, not
    * this frame.)
    *
    * The sorted RDD is PERSISTED (memory-and-disk) before
    * `zipWithIndex`: zipWithIndex launches an internal count job to
    * learn per-partition sizes, which would otherwise execute the full
    * range sort once and then recompute it from scratch for the
    * consuming action — the cache makes the sort run exactly once. The
    * cached partitions are released by the ContextCleaner when the
    * returned frame becomes unreachable (same lifetime contract as
    * Components' superseded checkpoint rounds).
    */
  def withGlobalIndex(df: DataFrame, orderCols: Seq[Column],
                      idxName: String): DataFrame = {
    val sorted = df.orderBy(orderCols: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        idxName, org.apache.spark.sql.types.LongType, nullable = false))
    val sortedRdd = sorted.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val indexed = sortedRdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    sorted.sparkSession.createDataFrame(indexed, schema)
  }
}
