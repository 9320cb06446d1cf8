package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextStatsWave4Spec extends SparkTestBase {
  import spark.implicits._

  test("graft_lcp: exact prefix lengths, codegen and interpreted agree") {
    val df = Seq(("abcx", "abcy"), ("", "abc"), ("same", "same"),
      ("a", "b")).toDF("a", "b")
    val got = df.select(call_function("graft_lcp", col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(3, 0, 4, 0))
    // null propagates (BinaryExpression null-safe contract)
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .select(call_function("graft_lcp", col("a"), col("b"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("prefixCompressionStats: sorted-neighbor LCP sum") {
    // sorted: "aaa1","aaa2","abc" → lcp 0 + 3 + 1 = 4; chars 3+4+4=11
    val docs = Seq(("s", "abc"), ("s", "aaa1"), ("s", "aaa2"))
      .toDF("src", "text")
    val got = TextAnalysis.prefixCompressionStats(docs, "src", "text")
      .collect().head
    assert(got.getAs[Long]("total_chars") == 11L)
    assert(got.getAs[Long]("shared_prefix_chars") == 4L)
  }

  test("vocabCoverage: OOV rate against the top-K vocab") {
    // top-2 vocab = {a (4×), b (3×)}; src2's tokens: a b c c → 2/4 oov
    val docs = Seq(("s1", "a a b b"), ("s2", "a b c c"), ("s3", "a a"))
      .toDF("src", "text")
    val got = TextAnalysis.vocabCoverage(docs, "src", "text", topK = 2)
      .orderBy(col("src")).collect()
    assert(got(1).getAs[Long]("total_tokens") == 4L)
    assert(got(1).getAs[Long]("covered_tokens") == 2L)
    assert(got(1).getAs[Double]("oov_rate") == 0.5)
    assert(got(2).getAs[Double]("oov_rate") == 0.0)
  }

  test("jsDivergence: zero on identical distributions, ln2 on disjoint") {
    val docs = Seq(("a", "x y"), ("b", "x y"), ("c", "z w"))
      .toDF("src", "text")
    val got = TextAnalysis.jsDivergenceMatrix(docs, "src", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getAs[Double]("js"))).toMap
    assert(got(("a", "b")) == 0.0)
    assert(math.abs(got(("a", "c")) - math.log(2)) < 1e-6)
    assert(math.abs(got(("b", "c")) - math.log(2)) < 1e-6)
  }

  test("embeddingDispersion: collapsed label has zero dispersion") {
    val same = Seq.fill(5)((0, Seq(3.0f, 4.0f)))
    val spread = Seq((1, Seq(1.0f, 0.0f)), (1, Seq(-1.0f, 0.0f)))
    val df = (same ++ spread).toDF("label", "embedding")
    val got = Similarity.embeddingDispersion(df, Seq("label"),
        "embedding", 2)
      .orderBy(col("label")).collect()
    // label 0: all vectors (3,4) → centroid norm 5, dispersion 0
    assert(got(0).getAs[Double]("centroid_norm") == 5.0)
    assert(got(0).getAs[Double]("dispersion") == 0.0)
    // label 1: centroid (0,0) → norm 0, E‖v‖² = 1 → dispersion 1
    assert(got(1).getAs[Double]("centroid_norm") == 0.0)
    assert(got(1).getAs[Double]("dispersion") == 1.0)
  }

  test("ksTest: hand-computed max CDF gap with tie broken to smallest") {
    // A: 1,2,3,4  B: 3,4,5,6 → D at v=2 (2/4 - 0) = 0.5; also 0.5 at
    // v tied? cum diffs: v1: .25; v2: .5; v3: .75-.25=.5; v4: 1-.5=.5
    // → max 0.5 first reached at v=2
    val df = (Seq(1, 2, 3, 4).map(("A", _)) ++
      Seq(3, 4, 5, 6).map(("B", _))).toDF("g", "v")
    val got = Stats.ksTest(df, "v", "g", "A", "B").collect().head
    assert(got.getAs[Long]("n_a") == 4L && got.getAs[Long]("n_b") == 4L)
    assert(got.getAs[Double]("ks_stat") == 0.5)
    assert(got.getAs[Int]("ks_at") == 2) // typed like the value column
  }

  test("VecSumAgg: partitioning-invariant exact grain sums") {
    val rnd = new scala.util.Random(9)
    val rows = (1 to 2000).map(_ => (1, Seq.fill(8)(rnd.nextFloat())))
    val vs = udaf(graft.functions.VecSumAgg(8))
    def run(parts: Int) =
      rows.toDF("k", "v").repartition(parts).groupBy(col("k"))
        .agg(vs(col("v")).as("s")).collect().head.getSeq[Long](1)
    assert(run(1) == run(13))
  }
}
