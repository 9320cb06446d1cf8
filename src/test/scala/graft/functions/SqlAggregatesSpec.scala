package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The typed Aggregators on the PLAIN SQL surface: every `graft_*`
  * aggregate must resolve through the session FunctionRegistry
  * (GraftExtensions) and agree with its Column-API `udaf(...)` twin —
  * the "a SQL-only user can run the engine's aggregates" contract.
  */
class SqlAggregatesSpec extends SparkTestBase {
  import spark.implicits._

  test("all five aggregate names resolve in the function registry") {
    for (n <- Seq("graft_interval_union", "graft_topk", "graft_reservoir",
                  "graft_vec_sum", "graft_gram"))
      assert(spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst
          .FunctionIdentifier(n)), n)
  }

  test("graft_interval_union from SQL == IntervalUnionAgg via udaf") {
    Seq((1L, 10L), (1L, 20L), (1L, 2000L), (2L, 5L), (1L, 25L))
      .toDF("k", "t").createOrReplaceTempView("iu_in")
    val viaSql = spark.sql(
      """SELECT k, iv.start, iv.end, iv.n
         FROM (SELECT k, explode(graft_interval_union(t, t, 1L, 100L))
                 AS iv
               FROM iu_in GROUP BY k)
         ORDER BY k, iv.start""").collect().map(_.toSeq).toSeq
    val iu = udaf(IntervalUnionAgg(100L))
    val viaCol = spark.table("iu_in").groupBy($"k")
      .agg(iu($"t", $"t", lit(1L)).as("ivs"))
      .select($"k", explode($"ivs").as("iv"))
      .select($"k", $"iv.start", $"iv.end", $"iv.n")
      .orderBy($"k", $"iv.start").collect().map(_.toSeq).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
    // the 1900-gap splits k=1 into two sessions
    assert(viaSql.count(_.head == 1L) == 2)
  }

  test("graft_topk from SQL: bounded top-k with (ord DESC, id ASC) ties") {
    Seq(("a", 5.0, 1L), ("a", 5.0, 2L), ("a", 9.0, 3L), ("a", 1.0, 4L),
        ("b", 2.0, 5L))
      .toDF("g", "v", "id").createOrReplaceTempView("tk_in")
    val got = spark.sql(
      """SELECT g, kv.ord, kv.id
         FROM (SELECT g, explode(graft_topk(v, id, 2)) AS kv
               FROM tk_in GROUP BY g)
         ORDER BY g, kv.ord DESC, kv.id""").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 9.0, 3L), ("a", 5.0, 1L), ("b", 2.0, 5L)))
  }

  test("graft_reservoir from SQL is the k-smallest-(hash,v) sample") {
    (1 to 50).map(i => ("g", i.toLong, i.toDouble))
      .toDF("g", "h", "v").createOrReplaceTempView("rs_in")
    val got = spark.sql(
      """SELECT g, graft_reservoir(h, v, 10) AS vs
         FROM rs_in GROUP BY g""").collect().head
    assert(got.getSeq[Double](1) == (1 to 10).map(_.toDouble))
  }

  test("graft_vec_sum / graft_gram from SQL on a 2-dim toy") {
    Seq((Seq(1.0f, 2.0f)), (Seq(3.0f, 4.0f)))
      .toDF("vec").createOrReplaceTempView("vs_in")
    val vs = spark.sql(
      "SELECT graft_vec_sum(vec, 2) AS s FROM vs_in").collect().head
      .getSeq[Long](0)
    assert(vs == Seq(4000000L, 6000000L)) // 1e-6 grain
    val g = spark.sql(
      "SELECT graft_gram(vec, 2) AS g FROM vs_in").collect().head
      .getSeq[Long](0)
    // upper-triangular packed 2x2 Gram: (1+9, 2+12, 4+16)·1e6
    assert(g == Seq(10000000L, 14000000L, 20000000L))
  }

  test("non-literal constructor parameter fails with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_topk(1.0, 1L, id) FROM range(3)").collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }
}
