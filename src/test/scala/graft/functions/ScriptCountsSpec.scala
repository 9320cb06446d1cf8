package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The native counting kernels must be VALUE-IDENTICAL to the regex
  * formulations they replace — q229's and q51's oracles replay exactly
  * those regexes, so the kernels' equality to the regex IS the
  * correctness argument. The regex forms are reconstructed here as
  * the independent reference and both run over adversarial strings:
  * mixed scripts, the q229 injection fragments, supplementary-plane
  * codepoints (Han beyond the BMP, emoji), every Java ASCII `\s`
  * char, Unicode (non-ASCII) whitespace that must NOT count as `\s`,
  * run/singleton alternation edges, and empty text.
  */
class ScriptCountsSpec extends SparkTestBase {
  import spark.implicits._

  private val samples = Seq(
    "",
    "hello world 42",
    "привет мир ",
    "你好世界 ",
    "привет мир 你好世界 hello 123",
    "a1b2c3",
    "  \t\n\f\r  ",
    "a\u00A0b",            // NBSP: not Java \s, counts as a token
    "Grüße, naïve façade",      // Latin beyond a-z
    "№§±×÷",                    // symbols: no script class
    "𠮷 han beyond bmp 😀", // 𠮷 + emoji
    "mixed МИР and 漢字 WITH caps",
    "a-b_c.d!e",
    "----",
    "0123456789" * 5,
    "word " * 30 + "привет" * 3)

  test("graft_script_counts equals the four regexp_extract_all sizes") {
    val df = samples.toDF("text")
    val txt = coalesce(col("text"), lit(""))
    def cnt(pattern: String) =
      size(regexp_extract_all(txt, lit(pattern), lit(0))).cast("long")
    val got = df.select(
      call_function("graft_script_counts", txt).as("sc"),
      cnt("\\p{IsLatin}").as("latin"), cnt("\\p{IsCyrillic}").as("cyr"),
      cnt("\\p{IsHan}").as("han"), cnt("[0-9]").as("digit"))
      .collect()
    got.foreach { r =>
      val sc = r.getSeq[Long](0)
      assert(sc == Seq(r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)), s"mismatch on row $r")
    }
  }

  test("graft_bpe_count equals size(regexp_extract_all(bpe regex))") {
    val df = samples.toDF("text")
    val low = lower(coalesce(col("text"), lit("")))
    val got = df.select(
      call_function("graft_bpe_count", low).as("kernel"),
      size(regexp_extract_all(low,
        lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).as("regex"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"mismatch on row $r")
    }
  }

  test("graft_ws_count equals size(split(normalize(text), ' '))") {
    val df = (samples ++ Seq(" leading", "trailing ", " both ",
      "a\t\tb", "\r\n", "x")).toDF("text")
    val norm = trim(regexp_replace(lower(coalesce(col("text"),
      lit(""))), "\\s+", " "))
    val got = df.select(
      call_function("graft_ws_count",
        coalesce(col("text"), lit(""))).as("kernel"),
      size(split(norm, " ")).as("composed"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"mismatch on row $r")
    }
  }

  test("kernels are null-safe and codegen-stage friendly") {
    val df = Seq(Option("abc"), None).toDF("text")
    val got = df.select(
      call_function("graft_script_counts", col("text")).as("sc"),
      call_function("graft_bpe_count", col("text")).as("n"))
      .collect()
    assert(got(0).getSeq[Long](0) == Seq(3L, 0L, 0L, 0L))
    assert(got(0).getInt(1) == 1)
    assert(got(1).isNullAt(0) && got(1).isNullAt(1))
  }
}
