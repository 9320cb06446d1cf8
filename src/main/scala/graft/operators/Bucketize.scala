package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range-bucket assignment — the reference's `(chr, region)` composite key.
  *
  * The reference derives a per-chromosome bucket width so that roughly
  * `numRegions` equal-genome-span buckets exist
  * (`program/src/main/java/hmushtaq/sparkga1/utils/DictParser.java:80-96`),
  * then keys every read with `reg = pos / chrRegionSize(chr)`
  * (`program/src/main/scala/hmushtaq/sparkga1/utils/SamRegionsParser.scala:55-60`).
  *
  * Spark-native version: the "dictionary" is a small DataFrame
  * `(group, length)`; bucket widths are a derived column; assignment is a
  * codegen'd arithmetic expression; physical placement is
  * `repartition(group, bucket)` (hash) or `repartitionByRange` — no sideband
  * files, no manual partitioner. At 100 TB the dict stays tiny (one row per
  * group) so the width join is always a broadcast hash join.
  */
object Bucketize {

  /** Bucket id for a position given a per-row width column. Non-positive
    * widths map to bucket 0 (same edge semantics as the native
    * `graft.functions.BucketId` expression — that SQL-registered variant
    * does the same in one integer division and is the hot-path choice;
    * this composed form stays session-independent for the Column API).
    */
  def bucketId(pos: Column, width: Column): Column =
    when(width <= 0, lit(0))
      .otherwise(floor(pos.cast("double") / width))
      .cast("int")

  /** Derive per-group bucket widths from a dict of group lengths, targeting
    * ~`numBuckets` buckets per group (DictParser.java:80-96 semantics:
    * `width = ceil(length / numBuckets)`, min 1).
    */
  def widths(dict: DataFrame, groupCol: String, lengthCol: String,
             numBuckets: Int): DataFrame =
    dict.select(
      col(groupCol),
      greatest(ceil(col(lengthCol).cast("double") / numBuckets), lit(1L))
        .cast("long").as("bucket_width")
    )

  /** Key `df` with a bucket column derived from a broadcast dict join.
    * The dict is one row per group — always broadcast.
    */
  def withBucket(df: DataFrame, dict: DataFrame, groupCol: String,
                 posCol: String, bucketCol: String = "bucket"): DataFrame =
    df.join(broadcast(dict), Seq(groupCol))
      .withColumn(bucketCol, bucketId(col(posCol), col("bucket_width")))
      .drop("bucket_width")
}
