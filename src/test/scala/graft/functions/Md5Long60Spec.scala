package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** graft_md5_long60 must be VALUE-IDENTICAL to the composed
  * conv(substring(md5(s), pos, 15), 16, 10) cast bigint form it
  * replaces — the md5-prefix formula is what every hash-sample /
  * MinHash / reservoir / bootstrap oracle replays, so this equality
  * IS the correctness argument. Both 60-bit ranges (hexPos 1 and 17)
  * are pinned over adversarial strings and a 10k-key sweep.
  */
class Md5Long60Spec extends SparkTestBase {
  import spark.implicits._

  private val samples = Seq("", "a", "bs:0:42", "rq:123456789",
    "shingle text#7", "привет 你好", "x" * 4096,
    "0123456789abcdef0123456789abcdef")

  test("kernel equals conv(substring(md5)) at both hex offsets") {
    val df = (samples ++ (0 until 10000).map(i => s"key:$i")).toDF("s")
    val bad = df.select(
      call_function("graft_md5_long60", col("s"), lit(1)).as("k1"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
        .as("r1"),
      call_function("graft_md5_long60", col("s"), lit(17)).as("k17"),
      conv(substring(md5(col("s")), 17, 15), 16, 10).cast("long")
        .as("r17"))
      .where(col("k1") =!= col("r1") || col("k17") =!= col("r17"))
      .count()
    assert(bad == 0L)
  }

  test("null-safe; hexPos validated at construction") {
    val got = Seq(Option("abc"), None).toDF("s")
      .select(call_function("graft_md5_long60", col("s"), lit(1)))
      .collect()
    assert(!got(0).isNullAt(0) && got(1).isNullAt(0))
    intercept[Exception] {
      Seq("x").toDF("s")
        .select(call_function("graft_md5_long60", col("s"), lit(2)))
        .collect()
    }
  }
}
