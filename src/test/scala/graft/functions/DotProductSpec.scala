package graft.functions

import graft.SparkTestBase
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class DotProductSpec extends SparkTestBase {
  import spark.implicits._

  private def nd(a: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column) =
    call_function("graft_dot", a, b)

  test("matches the HOF fold bit-for-bit on float arrays") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 200).map { i =>
      (Array.fill(64)(rnd.nextFloat() - 0.5f),
       Array.fill(64)(rnd.nextFloat() - 0.5f))
    }.toDF("a", "b")
    val diff = df.select(
        nd($"a", $"b").as("native"),
        Similarity.dot($"a", $"b").as("hof"))
      .where($"native" =!= $"hof" ||
             $"native".isNull =!= $"hof".isNull)
      .count()
    assert(diff == 0)
  }

  test("degenerate cases mirror zip_with+aggregate: mismatch/null → NULL") {
    val df = Seq(
      (Array(1f, 2f), Array(3f, 4f)),        // 1*3 + 2*4 = 11
      (Array(1f, 2f, 3f), Array(1f, 1f)),    // length mismatch
      (Array.empty[Float], Array.empty[Float]) // empty → 0
    ).toDF("a", "b")
    val got = df.select(nd($"a", $"b")).collect()
    assert(got(0).getDouble(0) == 11.0)
    assert(got(1).isNullAt(0))
    assert(got(2).getDouble(0) == 0.0)
    // null element → NULL (zip_with product absorbs it)
    val withNullElem = spark.sql(
      "SELECT graft_dot(array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(1 AS FLOAT)))")
    assert(withNullElem.head.isNullAt(0))
    // null array → NULL
    assert(spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<FLOAT>), " +
      "array(CAST(1 AS FLOAT)))").head.isNullAt(0))
  }

  test("participates in whole-stage codegen") {
    val df = Seq((Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
      .select(nd($"a", $"b").as("d"))
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"))
    assert(df.head.getDouble(0) == 11.0)
  }
}

class CountInSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_count_in matches size(filter(isin)) incl. duplicates") {
    val df = Seq(Seq("the", "cat", "the", "dog"), Seq.empty[String])
      .toDF("toks")
    val marks = Seq("the", "dog")
    val got = df.select(
        graft.operators.TextAnalysis.markerCountNative($"toks", marks)
          .as("native"),
        size(filter($"toks", x => x.isin(marks.map(lit): _*))).as("hof"))
      .as[(Int, Int)].collect()
    assert(got(0) == ((3, 3))) // duplicate 'the' counts twice
    assert(got(1) == ((0, 0)))
  }

  test("langIdNative == langIdOf on the real corpus, plan fully codegen") {
    import graft.operators.TextAnalysis
    val profiles = Seq("en" -> Seq("the", "a", "of", "and", "is"),
      "es" -> Seq("el", "los", "y", "es", "se"))
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
    val both = docs.select($"doc_id",
      TextAnalysis.langIdOf($"toks", profiles).as("hof"),
      TextAnalysis.langIdNative($"toks", profiles).as("native"))
    assert(both.where($"hof" =!= $"native").count() == 0)
    val nativePlan = docs.select(
        TextAnalysis.langIdNative($"toks", profiles))
      .queryExecution.executedPlan.toString
    assert(!nativePlan.contains("ArrayFilter"),
      s"marker counting must not run interpreted filters:\n$nativePlan")
  }

  test("non-literal set is rejected at analysis") {
    val df = Seq((Seq("a"), Seq("a"))).toDF("toks", "set")
    val e = intercept[Exception](
      df.select(call_function("graft_count_in", $"toks", $"set")).collect())
    assert(e.getMessage.contains("FOLDABLE"))
  }
}
