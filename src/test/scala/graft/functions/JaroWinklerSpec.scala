package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions.{call_function, col}

class JaroWinklerSpec extends SparkTestBase {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinklerKernel.similarity(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))

  test("kernel matches DuckDB jaro_winkler_similarity on probed values") {
    // every expected value below was read off DuckDB 1.x directly —
    // the oracle engine q196 compares against
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964), // jaro ≤ boost? no: prefix 0
      ("abc", "abc", 1.0),
      ("abc", "", 0.0),
      ("", "", 0.0),             // DuckDB: both-empty scores 0, not 1
      ("ab", "ba", 0.0),         // window 0 ⇒ no matches
      ("CRATE", "TRACE", 0.7333333333333334), // > 0.7 but prefix 0
      ("DwAyNE", "DuANE", 0.8400000000000001),
      ("a", "b", 0.0),
      ("aaapppp", "ap", 0.7857142857142857),
      ("hello", "hallo", 0.88),
      ("ab", "ac", 0.6666666666666666),   // ≤ 0.7 ⇒ NO prefix boost
      ("abcd", "abzz", 0.6666666666666666),
      ("abcdef", "abzzzz", 0.5555555555555555))
    cases.foreach { case (a, b, want) =>
      assert(jw(a, b) == want, s"jw($a, $b)")
    }
  }

  test("boost threshold is strict and prefix caps at 4") {
    // prefix 5 shared, but only 4 count toward the boost
    val base = jw("abcdeXYZ", "abcdeQRS")
    val jaroOnly = {
      // matches 5, t 0, lens 8/8: jaro = (5/8 + 5/8 + 1) / 3
      (5.0 / 8 + 5.0 / 8 + 1.0) / 3
    }
    assert(math.abs(base - (jaroOnly + 4 * 0.1 * (1 - jaroOnly))) < 1e-15)
  }

  test("expression: codegen path, null propagation, symmetry") {
    val df = Seq(("martha", "marhta"), ("hello", "hallo"))
      .toDF("a", "b")
      .select(call_function("graft_jaro_winkler", col("a"), col("b"))
        .as("x"),
        call_function("graft_jaro_winkler", col("b"), col("a")).as("y"))
    df.collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    val nulls = Seq((Some("x"), None: Option[String]))
      .toDF("a", "b")
      .select(call_function("graft_jaro_winkler", col("a"), col("b")))
    assert(nulls.collect().head.isNullAt(0))
  }
}
