package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class BucketIdSpec extends SparkTestBase {
  import spark.implicits._

  test("native BucketId matches floor(pos/width) on non-negative inputs") {
    val df = (0L to 1000L by 7L).flatMap(p => Seq((p, 1L), (p, 13L),
      (p, 100L))).toDF("pos", "w")
    val got = df.select($"pos", $"w",
        BucketId($"pos", $"w").as("native"),
        floor($"pos".cast("double") / $"w").cast("int").as("composed"))
      .where($"native" =!= $"composed").count()
    assert(got == 0)
  }

  test("zero/negative width yields bucket 0, null propagates") {
    val df = Seq((10L, 0L), (10L, -5L)).toDF("pos", "w")
    val got = df.select(BucketId($"pos", $"w")).as[Int].collect().toSet
    assert(got == Set(0))
    val n = Seq((Option.empty[Long], Some(5L))).toDF("pos", "w")
      .select(BucketId($"pos", $"w")).collect().head
    assert(n.isNullAt(0))
  }

  test("participates in whole-stage codegen") {
    val df = spark.range(100).select(BucketId($"id", lit(10L)).as("b"))
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"))
    assert(df.agg(sum($"b")).head.getLong(0) ==
      (0 until 100).map(_ / 10).sum)
  }

  test("available from SQL after registration, with int-literal widening") {
    val r = spark
      .sql("SELECT bucket_id(57, 10)") // INT literals widen via the builder
      .head.getInt(0)
    assert(r == 5)
    val e = intercept[Exception](spark.sql("SELECT bucket_id(1)").collect())
    assert(e.getMessage.contains("expects 2 argument"))
  }

  test("graft_fingerprint / graft_token_count SQL functions match the Column API") {
    val rows = spark.sql(
      "SELECT graft_fingerprint('  Hello   World '), graft_token_count('  a b\tc ')")
      .head
    val viaColumn = Seq("  Hello   World ").toDF("t")
      .select(graft.operators.TextAnalysis.fingerprint($"t"),
              graft.operators.TextAnalysis.tokenCount(lit("  a b\tc ")))
      .head
    assert(rows.getString(0) == viaColumn.getString(0))
    assert(rows.getInt(1) == 3 && viaColumn.getInt(1) == 3)
  }

  test("every text SQL function matches its Column-API twin on real docs") {
    import graft.operators.TextAnalysis
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    docs.createOrReplaceTempView("docs_fn_parity")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_normalize(text) AS norm,
                graft_fingerprint(text) AS fp,
                graft_token_count(text) AS n_tok,
                graft_distinct_ratio(text) AS dr,
                graft_mean_token_len(text) AS mtl,
                graft_punct_ratio(text) AS pr,
                graft_quality(text) AS q
         FROM docs_fn_parity""")
    val toks = TextAnalysis.tokens($"text")
    val viaColumn = docs.select($"doc_id",
      TextAnalysis.normalize($"text").as("norm"),
      TextAnalysis.fingerprint($"text").as("fp"),
      TextAnalysis.tokenCount($"text").as("n_tok"),
      TextAnalysis.distinctTokenRatioOf(toks).as("dr"),
      TextAnalysis.meanTokenLengthOf(toks).as("mtl"),
      TextAnalysis.punctRatio($"text").as("pr"),
      TextAnalysis.qualityScoreOf($"text", toks).as("q"))
    assert(viaSql.exceptAll(viaColumn).isEmpty &&
           viaColumn.exceptAll(viaSql).isEmpty)
    // NULL text canonicalizes to '' everywhere (the operator contract)
    val nullRow = spark.sql(
      "SELECT graft_token_count(CAST(NULL AS STRING)), graft_quality(CAST(NULL AS STRING))").head
    assert(nullRow.getInt(0) == 1) // '' splits to one empty token
    assert(!nullRow.isNullAt(1))
  }
}

class FirstPerKeyAggSpec extends SparkTestBase {
  import spark.implicits._

  test("agg dedup matches window dedup under a total order") {
    val df = Seq((1, 2, 50.0), (1, 1, 50.0), (1, 3, 99.0),
                 (2, 1, 10.0), (2, 2, 10.0)).toDF("k", "ln", "price")
    val win = graft.operators.Dedup.firstPerKey(df, Seq("k"),
      Seq(desc("price"), asc("ln"))).as[(Int, Int, Double)].collect().toSet
    val agg = graft.operators.Dedup.firstPerKeyAgg(df, Seq("k"),
      struct($"price", -$"ln")).as[(Int, Int, Double)].collect().toSet
    assert(win == agg)
    assert(agg == Set((1, 3, 99.0), (2, 1, 10.0)))
  }

  test("agg dedup has map-side partial aggregation") {
    val df = Seq((1, 1, 1.0)).toDF("k", "ln", "price")
    val p = graft.operators.Dedup.firstPerKeyAgg(df, Seq("k"),
      struct($"price", -$"ln")).queryExecution.sparkPlan.toString
    assert(p.contains("partial_max_by") || p.contains("partial_"),
      s"expected partial agg in:\n$p")
  }
}
