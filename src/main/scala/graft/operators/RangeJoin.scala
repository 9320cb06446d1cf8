package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval intersection — the reference's exome `bedtools intersect`.
  *
  * Reference semantics (`program/src/main/scala/hmushtaq/sparkga1/
  * SparkGA1.scala:657-732`): intersect a small exome BED with each region's
  * BED via shell-out; degenerate zero-length intervals are widened by one
  * (`SparkGA1.scala:692-695`).
  *
  * Spark-native: an overlap join `a.start <= b.end && b.start <= a.end`
  * on closed intervals. With a small side that is a broadcast nested-loop
  * join under [[overlaps]] — fine. Between two LARGE sides a pure theta
  * join is quadratic per key (or a cartesian product);
  * `bucketedOverlapJoin` turns it into an equi-join on (key,
  * coarse-bucket) + residual range predicate, which Catalyst executes as
  * a shuffled hash/sort-merge join — the 100 TB path. A point-in-interval
  * join passes the point column as both bounds of a degenerate interval;
  * stricter bounds (half-open intervals) are a residual filter on the
  * result.
  */
object RangeJoin {

  /** Fix degenerate intervals: `start == end` → `end + 1`
    * (SparkGA1.scala:692-695 semantics).
    */
  def fixDegenerate(df: DataFrame, startCol: String, endCol: String)
      : DataFrame =
    df.withColumn(endCol,
      when(col(startCol) === col(endCol), col(endCol) + 1)
        .otherwise(col(endCol)))

  /** Overlap predicate for closed intervals [s, e]. */
  def overlaps(aStart: Column, aEnd: Column, bStart: Column, bEnd: Column)
      : Column = aStart <= bEnd && bStart <= aEnd

  /** Scale path for big-big overlap joins: explode each left interval into
    * the coarse buckets it touches, equi-join on (key, bucket), keep the
    * residual overlap predicate, and dedupe pairs that matched in more than
    * one bucket by crediting the match to the first shared bucket.
    * Shuffle is hash on (key, bucket) — no cartesian blow-up.
    *
    * Exact for every long bound: the bucket of a value is a monotone
    * function of it (Double rounding beyond 2^53 moves bucket edges,
    * never the order), so both intervals of a matching pair cover
    * the credited bucket. An inverted interval (start > end) explodes its
    * buckets descending and still matches wherever the predicate holds.
    * `bucketWidth` is a data statement (interval scale), picked by the
    * caller.
    */
  def bucketedOverlapJoin(left: DataFrame, right: DataFrame,
                          keyCols: Seq[String],
                          lStart: String, lEnd: String,
                          rStart: String, rEnd: String,
                          bucketWidth: Long): DataFrame = {
    def explodeBuckets(df: DataFrame, s: String, e: String): DataFrame =
      df.withColumn("_bkt",
        explode(sequence(
          floor(col(s).cast("double") / bucketWidth).cast("long"),
          floor(col(e).cast("double") / bucketWidth).cast("long"))))
    val l = explodeBuckets(left, lStart, lEnd)
    val r = explodeBuckets(right, rStart, rEnd)
    l.join(r, keyCols :+ "_bkt")
      .where(overlaps(col(lStart), col(lEnd), col(rStart), col(rEnd)))
      // credit each matched pair to one bucket: the bucket holding the
      // later of the two starts (always shared by both intervals).
      .where(col("_bkt") ===
        floor(greatest(col(lStart), col(rStart)).cast("double") / bucketWidth)
          .cast("long"))
      .drop("_bkt")
  }
}
