package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r18 optimization pins: the basket in-row pair expansions that
  * replaced the lineitem self-join edge builds must be MULTISET-
  * identical to the join formulations they replaced — including the
  * corners the swap could get wrong: duplicate (orderkey, linenumber)
  * lines (the testdata has ~118 k of them at sf0.1 — they CROSS-PAIR
  * under the equi-join), line-number gaps (no edge across a gap), NULL
  * keys (equi-join drop semantics), and repeated parts within an order
  * (line pairs, not part pairs).
  */
class EdgeBuildSpec extends SparkTestBase {
  import spark.implicits._

  // (orderkey, linenumber, partkey) with every corner present:
  // order 1: plain consecutive lines
  // order 2: DUPLICATE (ok, ln) pairs → cross-pairing
  // order 3: a gap (ln 1 then 3) → no adjacent edge
  // order 4: NULL partkey and NULL linenumber rows
  // order 5: same part on two lines (self-pair dropped by pk filter)
  private def lines: DataFrame = Seq[(java.lang.Long, Integer, java.lang.Long)](
    (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
    (2L, 1, 20L), (2L, 1, 21L), (2L, 2, 22L), (2L, 2, 23L),
    (3L, 1, 30L), (3L, 3, 31L),
    (4L, 1, null), (4L, 2, 40L), (4L, null, 41L),
    (5L, 1, 50L), (5L, 2, 50L), (5L, 3, 51L)
  ).toDF("l_orderkey", "l_linenumber", "l_partkey")

  /** The pre-r18 self-join formulation (adjacent lines). */
  private def adjacentViaJoin(li0: DataFrame): DataFrame = {
    val li = li0.select(col("l_orderkey").as("ok"),
      col("l_linenumber").as("ln"), col("l_partkey").as("pk"))
    val nxt = li.select(col("ok"), (col("ln") - 1).as("ln"),
      col("pk").as("dst_pk"))
    li.join(nxt, Seq("ok", "ln"))
      .select(col("pk").as("src"), col("dst_pk").as("dst"))
  }

  /** The r18 basket formulation (SparkEntry.adjacentLineEdges body). */
  private def adjacentViaBasket(li: DataFrame): DataFrame =
    li.filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_linenumber").as("ln"),
        col("l_partkey").as("pk"))).as("_it"))
      .select(explode(expr(
        "flatten(transform(_it, a -> transform(" +
          "filter(_it, b -> b.ln = a.ln + 1), " +
          "b -> named_struct('src', a.pk, 'dst', b.pk))))")).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))

  /** The pre-r18 in-order pair self-join formulation. */
  private def pairsViaJoin(li0: DataFrame): DataFrame = {
    val li = li0.select(col("l_orderkey").as("ok"),
      col("l_linenumber").as("ln"), col("l_partkey").as("pk"))
    val other = li.select(col("ok"), col("ln").as("ln2"),
      col("pk").as("pk2"))
    li.join(other, Seq("ok"))
      .where(col("ln") < col("ln2") && col("pk") =!= col("pk2"))
      .select(least(col("pk"), col("pk2")).as("u"),
        greatest(col("pk"), col("pk2")).as("v"))
  }

  /** The r18 basket formulation (SparkEntry.inOrderPartPairs body). */
  private def pairsViaBasket(li: DataFrame): DataFrame =
    li.filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_linenumber").as("ln"),
        col("l_partkey").as("pk"))).as("_it"))
      .select(explode(expr(
        "flatten(transform(_it, a -> transform(" +
          "filter(_it, b -> a.ln < b.ln AND NOT (a.pk = b.pk)), " +
          "b -> named_struct('u', least(a.pk, b.pk), " +
          "'v', greatest(a.pk, b.pk)))))")).as("_p"))
      .select(col("_p.u").as("u"), col("_p.v").as("v"))

  private def multiset(df: DataFrame): Map[(Any, Any), Long] =
    df.groupBy(df.columns.map(col): _*).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.get(0), r.get(1)), r.getLong(2))).toMap

  test("adjacent-line basket expansion == self-join (crafted corners)") {
    // the query-side predicate (src =!= dst or src < dst) is applied
    // on BOTH formulations identically, so compare without it AND with
    // each variant
    assert(multiset(adjacentViaBasket(lines)
        .where(col("src") =!= col("dst"))) ==
      multiset(adjacentViaJoin(lines).where(col("src") =!= col("dst"))))
    assert(multiset(adjacentViaBasket(lines)
        .where(col("src") < col("dst"))) ==
      multiset(adjacentViaJoin(lines).where(col("src") < col("dst"))))
    // duplicate (ok, ln) really cross-pairs: order 2 contributes
    // 2 lines at ln=1 × 2 lines at ln=2 = 4 edges
    val o2 = adjacentViaBasket(lines.where(col("l_orderkey") === 2))
      .where(col("src") =!= col("dst"))
    assert(o2.count() == 4)
  }

  test("in-order pair basket expansion == self-join (crafted corners)") {
    assert(multiset(pairsViaBasket(lines)) == multiset(pairsViaJoin(lines)))
  }

  test("both formulations agree on random multisets") {
    val rnd = new scala.util.Random(18)
    val rows = Seq.fill(400)((rnd.nextInt(40).toLong: java.lang.Long,
      Integer.valueOf(rnd.nextInt(6) + 1),
      rnd.nextInt(15).toLong: java.lang.Long))
    val df = rows.toDF("l_orderkey", "l_linenumber", "l_partkey")
    assert(multiset(adjacentViaBasket(df)
        .where(col("src") =!= col("dst"))) ==
      multiset(adjacentViaJoin(df).where(col("src") =!= col("dst"))))
    assert(multiset(pairsViaBasket(df)) == multiset(pairsViaJoin(df)))
  }

  test("noEvictionDrainSession isolates the conf from the parent") {
    val sd = streaming.Streams.noEvictionDrainSession(spark)
    assert(sd.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled") == "false")
    assert(spark.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true") == "true")
    // runtime conf inherited (the join state format the drains rely on)
    assert(sd.conf.get("spark.sql.streaming.join.stateFormatVersion") ==
      spark.conf.get("spark.sql.streaming.join.stateFormatVersion"))
  }

  test("noEvictionDrainSession carries every modifiable key of its " +
    "parent") {
    val sd = streaming.Streams.noEvictionDrainSession(spark)
    val own = "spark.sql.streaming.noDataMicroBatches.enabled"
    val probe = spark.newSession()
    def refused(k: String, v: String): Boolean =
      try { probe.conf.set(k, v); false }
      catch { case _: org.apache.spark.sql.AnalysisException => true }
    val parent = spark.conf.getAll - own
    val missing = parent.filter { case (k, v) =>
      sd.conf.getOption(k) != Some(v) && !refused(k, v)
    }
    assert(missing.isEmpty, s"clone lost modifiable keys: $missing")
    LocalFs.fileSystemConf.foreach { case (k, v) =>
      assert(parent.get(k).contains(v) && sd.conf.get(k) == v, k)
    }
  }
}
