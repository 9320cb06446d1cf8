package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication — the reference's `distinct` gather + MarkDuplicates.
  *
  * Reference: Part 3's `vcf.distinct` removes identical variant lines
  * re-emitted at region boundaries (`program/src/main/scala/hmushtaq/
  * sparkga1/SparkGA1.scala:1241`); Picard MarkDuplicates (shelled out at
  * `SparkGA1.scala:822-851`) is the domain-level first-per-key dedup.
  *
  * Spark-native: `distinct`/`dropDuplicates` for exact row dedup (one
  * shuffle, hash agg); window `row_number() == 1` for keep-best-per-key.
  * At scale prefer `firstPerKey` over `dropDuplicates(keys)` when you need
  * a *deterministic* winner — dropDuplicates keeps an arbitrary row.
  */
object Dedup {

  /** Keep exactly one row per key: the first under (orderCols) ordering.
    * orderCols must total-order rows within a key for determinism.
    * ≈ MarkDuplicates keep-highest-quality-read.
    */
  def firstPerKey(df: DataFrame, keyCols: Seq[String],
                  orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** INCREMENTAL corpus dedup — the production "new crawl vs existing
    * corpus" shape: the accepted corpus keeps its fingerprints persisted
    * as a BUCKETED table ([[graft.sources.Sinks.writeBucketed]] on the
    * fingerprint column); each new batch is (a) deduplicated within
    * itself (first doc per fingerprint wins, deterministic min-id) and
    * (b) anti-joined against the index — all with ZERO shuffle of the
    * index: both sides are bucketed on `fp`, so the in-batch aggregate
    * reuses the batch table's at-rest bucketing and the anti-join is a
    * local zip of bucket files (the q45 zero-exchange pattern applied
    * to dedup). After admission, the admitted fingerprints are appended
    * to the index table (a bucketed INSERT — again no shuffle of the
    * existing index), which is what makes the next batch's run
    * incremental rather than a recompute over the union.
    *
    * At 100 TB: the index is fingerprints only (16 B/doc — the same
    * shuffle-weight argument as exactDedupClasses), bucketed wide
    * enough that one bucket's fingerprints fit an executor. The new
    * batch is small next to the corpus BY DEFINITION of a crawl
    * increment — but nothing here depends on it: both paths are
    * bucket-local regardless of relative size.
    *
    * Takes the two BUCKETED TABLES (batch, index) by name; returns the
    * admitted (doc_id, fp) rows. Callers own writing/appending the
    * tables — see the q92 registration for the full cycle.
    */
  def incrementalDedup(spark: org.apache.spark.sql.SparkSession,
                       batchTable: String, indexTable: String,
                       idCol: String, fpCol: String): DataFrame = {
    val batch = spark.table(batchTable)
    val index = spark.table(indexTable)
    batch
      .groupBy(col(fpCol))
      .agg(min(col(idCol)).as(idCol))
      .join(index.hint("merge").select(col(fpCol)), Seq(fpCol),
        "left_anti")
      .select(col(idCol), col(fpCol))
  }

  /** Aggregate-based keep-best-per-key: winner = row whose `winnerKey`
    * (an orderable Column — use a struct for compound order; negate
    * numerics for descending components) is MAX within the key group.
    *
    * Same result as `firstPerKey` given a total order, but the 100 TB
    * path: `max_by` partial-aggregates map-side, so the shuffle carries
    * one candidate row per (partition × key) instead of every row, and
    * there is no per-key sort at all. Prefer this unless you need the
    * ranked rows themselves.
    */
  def firstPerKeyAgg(df: DataFrame, keyCols: Seq[String],
                     winnerKey: org.apache.spark.sql.Column): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains)
    val winner = max_by(
      struct(payload.map(col).toIndexedSeq: _*), winnerKey).as("_w")
    df.groupBy(keyCols.map(col): _*)
      .agg(winner)
      .select(keyCols.map(col) ++
        payload.map(c => col(s"_w.$c").as(c)): _*)
  }
}
