package graft.functions

import graft.SparkTestBase
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class WordShinglesSpec extends SparkTestBase {
  import spark.implicits._

  test("matches the HOF wordShinglesOf form on real documents") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextAnalysis.tokens(col("text")).as("toks"))
    val diff = docs.select(
        call_function("graft_shingles", $"toks", lit(3)).as("native"),
        TextAnalysis.wordShinglesOf($"toks", 3).as("hof"))
      .where($"native" =!= $"hof").count()
    assert(diff == 0)
  }

  test("short arrays yield empty; n=1 yields the tokens; null → null") {
    val df = Seq(Seq("a", "b"), Seq("a", "b", "c", "d"), null)
      .toDF("toks")
    val got3 = df.select(call_function("graft_shingles", $"toks", lit(3)))
      .collect()
    assert(got3(0).getSeq[String](0) == Seq.empty)
    assert(got3(1).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(got3(2).isNullAt(0))
    val got1 = df.where($"toks".isNotNull)
      .select(call_function("graft_shingles", $"toks", lit(1)))
      .collect()
    assert(got1(0).getSeq[String](0) == Seq("a", "b"))
  }

  test("participates in whole-stage codegen") {
    val df = Seq(Seq("x", "y", "z")).toDF("toks")
      .select(call_function("graft_shingles", $"toks", lit(2)).as("s"))
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"))
    assert(df.head.getSeq[String](0) == Seq("x y", "y z"))
  }

  test("non-literal width is rejected with a clear error") {
    val df = Seq((Seq("a", "b"), 2)).toDF("toks", "n")
    val e = intercept[Exception](
      df.select(call_function("graft_shingles", $"toks", $"n")).collect())
    assert(e.getMessage.contains("INT literal"))
  }
}

class WinnowKernelSpec extends SparkTestBase {
  import spark.implicits._

  test("fused kernel selects the same fingerprint SET as the composable form") {
    import graft.operators.TextAnalysis
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextAnalysis.tokens(col("text")).as("toks"))
    // composable reference: shingles → md5/conv longs → window minima
    val hs = transform(
      call_function("graft_shingles", $"toks", lit(3)),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))
    val composable = docs.select(
      when(size(hs) === 0, array().cast("array<bigint>"))
        .when(size(hs) < 4, array(array_min(hs)))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(hs) - 3),
          i => array_min(slice(hs, i, lit(4)))))).as("fps"))
    val fused = docs.select(
      call_function("graft_winnow", $"toks", lit(3), lit(4)).as("fps"))
    val a = composable.select(array_sort($"fps")).as[Seq[Long]].collect()
    val b = fused.select(array_sort($"fps")).as[Seq[Long]].collect()
    assert(a.length == b.length && a.zip(b).forall(p => p._1 == p._2))
  }

  test("winnowPairs maxDf drops a boilerplate fingerprint's pair blowup") {
    import graft.operators.NearDup
    val boiler = "common license header words here always the same"
    val docs = (1L to 6L).map(id =>
      (id, s"$boiler unique${id}a unique${id}b unique${id}c", "s"))
      .toDF("doc_id", "text", "source")
    val uncapped = NearDup.winnowPairs(docs, "doc_id", "text", "source",
      3, 4).count()
    assert(uncapped == 15) // all C(6,2) pairs share the boilerplate fps
    val capped = NearDup.winnowPairs(docs, "doc_id", "text", "source",
      3, 4, maxDf = 5).count()
    assert(capped == 0) // every shared fp has df=6 > 5
  }
}
