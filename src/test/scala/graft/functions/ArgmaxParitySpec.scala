package graft.functions

import graft.SparkTestBase
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused argmax-centroid kernel must be VALUE-IDENTICAL to the
  * Column aggregate() fold formulation ivfAssign originally shipped
  * with — every IVF operator's cell structure (and therefore every IVF
  * oracle) rides on this equality. The fold is reconstructed here as
  * the independent reference and both are run over randomized vectors
  * plus every degenerate case the fold's NULL algebra defined.
  */
class ArgmaxParitySpec extends SparkTestBase {
  import spark.implicits._

  /** The original fold, verbatim: seed (−∞, −1), per centroid
    * coalesce(when(normProd > 0, dot/normProd), Double.MinValue),
    * strict > keeps the first maximum.
    */
  private def foldAssign(vectors: DataFrame, centroids: DataFrame)
      : DataFrame = {
    val cents = centroids
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<float>"))
      .collect().toSeq
      .map { r =>
        val v = r.getSeq[Float](1)
        val sumSq = v.foldLeft(0d)((acc, x) => acc + x.toDouble * x.toDouble)
        (r.getLong(0), v, math.sqrt(sumSq))
      }
      .sortBy(_._1)
    def ndot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    val zero = struct(lit(Double.NegativeInfinity).as("s"),
                      lit(-1L).as("c"))
    val best = aggregate(typedlit(cents), zero, (acc, ct) => {
      val normProd = sqrt(ndot(col("embedding"), col("embedding"))) *
        ct.getField("_3")
      val s = coalesce(
        when(normProd > 0d,
          ndot(col("embedding"), ct.getField("_2")) / normProd),
        lit(Double.MinValue))
      when(s > acc.getField("s"),
        struct(s.as("s"), ct.getField("_1").as("c"))).otherwise(acc)
    })
    vectors.withColumn("centroid_id", best.getField("c"))
  }

  private def df(rows: Seq[(Long, Seq[java.lang.Float])]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) =>
        Row(id, v) }, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  private def f(x: Double): java.lang.Float = java.lang.Float.valueOf(x.toFloat)

  test("fused kernel equals the fold on random vectors (incl. near-ties)") {
    val rnd = new scala.util.Random(907)
    val dim = 16
    val centroids = df((0L until 8L).map(i =>
      i -> Seq.fill(dim)(f(rnd.nextDouble() * 2 - 1))))
    // random vectors plus exact centroid copies (cosine 1.0) and scaled
    // copies (identical direction → tie between scaled variants)
    val vecs = (0L until 500L).map(i =>
      (100L + i) -> Seq.fill(dim)(f(rnd.nextDouble() * 2 - 1))) ++
      (0 until 8).map(i => (900L + i) ->
        centroids.collect()(i).getSeq[Float](1).map(x => f(x * 3.0)))
    val in = df(vecs)
    val fused = Similarity.ivfAssign(in, centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toMap
    val fold = foldAssign(in, centroids)
      .select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toMap
    assert(fused == fold)
  }

  test("degenerate vectors assign to the lowest centroid id, exactly like the fold") {
    val centroids = df(Seq(3L -> Seq(f(1), f(0)), 7L -> Seq(f(0), f(1))))
    val in = df(Seq(
      1L -> Seq(f(0), f(0)),          // zero norm
      2L -> Seq(f(1), f(0), f(1)),    // length mismatch vs every centroid
      3L -> Seq(f(0.5), null),        // NULL element
      4L -> null,                     // NULL vector
      5L -> Seq(f(0), f(2))))         // healthy control
    val fused = Similarity.ivfAssign(in, centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toMap
    val fold = foldAssign(in, centroids)
      .select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toMap
    assert(fused == fold)
    assert(fused == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 7L))
  }

  test("the fused assignment runs inside whole-stage codegen") {
    val centroids = df(Seq(0L -> Seq(f(1), f(0))))
    val plan = Similarity.ivfAssign(df(Seq(1L -> Seq(f(1), f(1)))),
      centroids, "vec_id", "embedding").queryExecution.executedPlan
    assert(plan.toString.contains("graft_argmax_centroid"))
    val codegen = org.apache.spark.sql.execution.debug
      .codegenString(plan)
    assert(!codegen.contains("Found 0 WholeStageCodegen"), codegen)
  }
}
