package graft.operators

import graft.SparkTestBase
import graft.functions.ZorderKernel

class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("zorder kernel: bit placement, masking, known values") {
    assert(ZorderKernel.interleave(1L, 0L) == 1L) // x → even bits
    assert(ZorderKernel.interleave(0L, 1L) == 2L) // y → odd bits
    assert(ZorderKernel.interleave(3L, 3L) == 15L) // 5 | 10
    assert(ZorderKernel.interleave(0L, 0L) == 0L)
    // only the low 21 bits of each input participate
    val max = (1L << 21) - 1
    assert(ZorderKernel.interleave(max, max) == (1L << 42) - 1)
    assert(ZorderKernel.interleave(max + (1L << 21), max) ==
      ZorderKernel.interleave(max, max))
    // z is monotone when one coordinate moves within the other's cell
    assert(ZorderKernel.interleave(5L, 9L) <
      ZorderKernel.interleave(7L, 9L))
  }

  test("kernel agrees with the Column-arithmetic zValue2 on 16-bit input") {
    val xs = Seq(0L, 1L, 2L, 255L, 256L, 4095L, 65535L, 31337L)
    val df = (for (x <- xs; y <- xs) yield (x, y)).toDF("x", "y")
      .withColumn("k", org.apache.spark.sql.functions.call_function(
        "graft_zorder",
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y")))
      .withColumn("t", graft.sources.Layout.zValue2(
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y"), bits = 16))
    assert(df.where(org.apache.spark.sql.functions.col("k") =!=
      org.apache.spark.sql.functions.col("t")).count() == 0)
  }

  test("z-order layout: BOTH envelopes tight where a 1-D sort is not") {
    // full 32×32 grid, one row per cell; 64 rows per file ⇒ 16 files.
    // Perfect z-order cuts the grid into 8×8 blocks: every file's x
    // AND y envelope has width 7. The contrast layout (sort by x
    // only) pins y_min..y_max at full width 31 in every file.
    val grid = (for (x <- 0 until 32; y <- 0 until 32)
      yield (x.toLong, y.toLong, (x * 32 + y).toLong))
      .toDF("x", "y", "id")
    val z = Layout.zorderFileStats(grid, org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y"),
        org.apache.spark.sql.functions.col("id"), rowsPerFile = 64L)
      .collect()
    assert(z.length == 16)
    z.foreach { r =>
      assert(r.getAs[Long]("n_rows") == 64L)
      assert(r.getAs[Long]("x_max") - r.getAs[Long]("x_min") == 7L)
      assert(r.getAs[Long]("y_max") - r.getAs[Long]("y_min") == 7L)
    }
    // the 1-D contrast: x-sorted files leave the y envelope full-width
    val xSorted = Ordering.withGlobalIndex(grid,
        Seq(org.apache.spark.sql.functions.col("x").asc,
          org.apache.spark.sql.functions.col("id").asc), "_idx")
      .withColumn("file_id",
        org.apache.spark.sql.functions.expr("(_idx - 1) DIV 64"))
      .groupBy("file_id")
      .agg(org.apache.spark.sql.functions.min("y").as("y_min"),
        org.apache.spark.sql.functions.max("y").as("y_max"))
      .collect()
    xSorted.foreach(r =>
      assert(r.getAs[Long]("y_max") - r.getAs[Long]("y_min") == 31L))
  }

  test("compaction plan: descending cumulative fill, totals preserved") {
    // sizes 5,4,3,2,1 target 6 → prior-cum 0,5,9,12,14 → bins 0,0,1,2,2
    val files = Seq(("a", 1L, 5L), ("a", 2L, 4L), ("a", 3L, 3L),
        ("a", 4L, 2L), ("a", 5L, 1L))
      .toDF("part", "fid", "bytes")
    val plan = Layout.compactionPlan(files, Seq("part"), "bytes", "fid",
        targetBytes = 6L)
      .as[(String, Long, Long, Long)].collect()
      .map { case (_, bin, n, tot) => bin -> ((n, tot)) }.toMap
    assert(plan == Map(0L -> ((2L, 9L)), 1L -> ((1L, 3L)),
      2L -> ((2L, 3L))))
    // keys never mix: a second partition bins independently
    val two = files.union(
      Seq(("b", 9L, 7L)).toDF("part", "fid", "bytes"))
    val byKey = Layout.compactionPlan(two, Seq("part"), "bytes", "fid",
        targetBytes = 6L)
      .as[(String, Long, Long, Long)].collect()
    assert(byKey.filter(_._1 == "b").toSeq == Seq(("b", 0L, 1L, 7L)))
    assert(byKey.map(_._4).sum == 15L + 7L)
  }
}
