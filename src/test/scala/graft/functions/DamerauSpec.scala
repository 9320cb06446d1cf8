package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DamerauSpec extends SparkTestBase {
  import spark.implicits._

  private def dl(a: String, b: String): Int =
    DamerauKernel.distance(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))

  test("kernel: classic distances") {
    assert(dl("", "") == 0)
    assert(dl("abc", "abc") == 0)
    assert(dl("abc", "") == 3)
    assert(dl("", "xyz") == 3)
    assert(dl("kitten", "sitting") == 3) // pure levenshtein case
    assert(dl("abcd", "abdc") == 1)      // adjacent transposition
    assert(dl("ab", "ba") == 1)
  }

  test("kernel is UNRESTRICTED DL, not OSA") {
    // the distinguishing case: transpose then edit between the pair.
    // OSA forbids touching a transposed pair again and answers 3;
    // Lowrance-Wagner (and DuckDB's damerau_levenshtein) answer 2.
    assert(dl("CA", "ABC") == 2)
  }

  test("kernel is symmetric and dominated by levenshtein") {
    val words = Seq("monkey", "mokney", "monky", "mnokey", "money",
      "donkey", "keynom", "")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (a <- words; b <- words) {
      assert(dl(a, b) == dl(b, a), s"asym on ($a,$b)")
      assert(dl(a, b) <= lev(a, b), s"DL > levenshtein on ($a,$b)")
    }
  }

  test("expression evaluates inside codegen over a DataFrame") {
    val df = Seq(("abcd", "abdc"), ("same", "same"), ("CA", "ABC"))
      .toDF("a", "b")
      .select(call_function("graft_damerau", col("a"), col("b")).as("d"))
    assert(df.as[Int].collect().toSeq == Seq(1, 0, 2))
  }

  test("null propagates") {
    val df = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(call_function("graft_damerau", col("a"), col("b")).as("d"))
    assert(df.collect().head.isNullAt(0))
  }
}
