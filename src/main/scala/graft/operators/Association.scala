package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association mining — co-occurrence SETS where
  * [[TextAnalysis.pmiBigrams]] is co-occurrence SEQUENCES: which items
  * appear in the same basket far above chance. The classic
  * support / confidence / lift triple over unordered item pairs, the
  * "viewed X also viewed Y" signal behind recommenders and
  * cross-source corpus curation ("documents tagged A are usually also
  * tagged B").
  */
object Association {

  /** Distinct item sets per basket — ONE shuffle of the base rows —
    * with unordered pairs expanded IN-ROW by a higher-order expression
    * (quadratic only in basket size, all inside whole-stage codegen).
    * Round 12 shipped pair generation as distinct + basket-key
    * self-join: same output, but it moved the item table through THREE
    * extra full-table exchanges (the distinct, then both self-join
    * sides); at 100 TB those exchanges are the job. Measured identical
    * pair counts (124,225 at sf0.1) and same-or-better wall with 3
    * fewer stages (NOTES.md, round 13 q214 adjudication). Shared by
    * [[basketLift]] and [[itemCosine]].
    *
    * NULL items never pair (collect_set drops nulls — matching the
    * previous a<b join semantics, where NULL compared false), and NULL
    * basket keys are filtered BEFORE grouping for the same reason: the
    * self-join formulation silently excluded NULL-key rows (equi-join
    * NULL semantics), whereas groupBy would collect them into a real
    * basket and pair their items — a semantics change this operator
    * does not intend.
    *
    * The returned frame is PINNED (eager local checkpoint), not
    * `persist`ed: a persisted frame registers with the session
    * CacheManager and stays there until LRU eviction — nothing ever
    * unpersists it because the operator's result is lazy (no point the
    * operator could call unpersist at). A pin holds executor-local
    * blocks that the ContextCleaner frees as soon as the caller drops
    * the result frame, so repeated executions cannot accumulate
    * session-lifetime cache entries.
    */
  private def basketSets(df: DataFrame, basketCols: Seq[String],
                         itemCol: String, bk: Seq[String]): DataFrame =
    Components.pin(
      df.filter(basketCols.map(col(_).isNotNull).reduce(_ && _))
        .select(basketCols.zip(bk).map { case (c, n) => col(c).as(n) } :+
          col(itemCol).as("item"): _*)
        .groupBy(bk.map(col): _*)
        .agg(collect_set(col("item")).as("_is")),
      reliable = false)

  /** (a, b, n_ab) with a < b from the per-basket sets: the quadratic
    * term is items-per-basket (the record-linkage blocking argument —
    * cap basket size upstream for pathological carts, the maxDf
    * pattern), never corpus size; the pair aggregate map-side combines
    * to the pair vocabulary before its exchange.
    *
    * BOUND: the transform/flatten expands all k·(k-1)/2 pair structs of
    * one basket INSIDE one row before explode — so the cap-basket-size
    * caveat is not only about pair-count growth: an uncapped mega-basket
    * that the old self-join would at least have distributed across
    * tasks now materializes its whole pair array in a single task's
    * row buffer (k=100k ⇒ ~5e9 structs in one row = OOM, not skew).
    * Cap k upstream; the cap is the operator's contract at scale.
    */
  private def pairCounts(sets: DataFrame, minCo: Long): DataFrame =
    sets.select(explode(expr(
        "flatten(transform(_is, a -> transform(" +
          "filter(_is, b -> b > a), b -> named_struct('a', a, 'b', b))))"))
        .as("_p"))
      .select(col("_p.a").as("a"), col("_p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCo)

  /** Unordered item pairs with
    * {{{ support(a,b)   = n_ab / N
    *     confidence(a→b) = n_ab / n_a
    *     lift(a,b)      = (n_ab/N) / ((n_a/N)·(n_b/N)) }}}
    * over baskets identified by `basketCols`; pairs below `minBaskets`
    * co-occurrences are dropped BEFORE the per-item joins.
    *
    * SCALE SHAPE: [[basketSets]] + [[pairCounts]] — one shuffle of the
    * base rows, in-row pair expansion, vocabulary-sized count joins.
    * The basket total is a ONE-ROW aggregate cross-joined broadcast
    * (q118's shape). Nothing collects at the driver.
    */
  def basketLift(df: DataFrame, basketCols: Seq[String], itemCol: String,
                 minBaskets: Long): DataFrame = {
    val bk = basketCols.indices.map(i => s"_bk_$i")
    val sets = basketSets(df, basketCols, itemCol, bk)
    val nb = sets.agg(count(lit(1)).cast("double").as("_n"))
    val ic = sets.select(explode(col("_is")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("_c"))
    pairCounts(sets, minBaskets)
      .join(ic.select(col("item").as("a"), col("_c").as("_ca")), "a")
      .join(ic.select(col("item").as("b"), col("_c").as("_cb")), "b")
      .crossJoin(broadcast(nb))
      .select(col("a"), col("b"), col("n_ab"),
        round(col("n_ab").cast("double") / col("_n"), 6).as("support"),
        round(col("n_ab").cast("double") / col("_ca").cast("double"), 6)
          .as("confidence"),
        round((col("n_ab").cast("double") / col("_n")) /
          ((col("_ca").cast("double") / col("_n")) *
           (col("_cb").cast("double") / col("_n"))), 6).as("lift"))
  }

  /** Item-item co-occurrence cosine neighbors (collaborative-filtering
    * similarity): over baskets,
    * {{{ cosine(a,b) = n_ab / sqrt(n_a · n_b) }}}
    * with n_x = #baskets containing x, n_ab = #baskets containing both;
    * per item, the `topK` most-similar neighbors (pairs below `minCo`
    * co-occurrences dropped first). Ordering is on the ROUNDED cosine
    * with the neighbor id as tiebreak, so rank is engine-deterministic.
    *
    * SCALE SHAPE: [[basketSets]] + [[pairCounts]] — one shuffle of the
    * base rows, in-row pair expansion quadratic only in
    * items-per-basket, never corpus size (cap basket size upstream for
    * pathological carts, the maxDf pattern). The top-k window runs over
    * each item's NEIGHBOR LIST (≤ distinct co-items, already
    * `minCo`-thresholded), not over rows. Returns
    * (item, neighbor, n_ab, cosine, rank).
    */
  def itemCosine(df: DataFrame, basketCols: Seq[String], itemCol: String,
                 minCo: Long, topK: Int): DataFrame = {
    // basket keys are renamed internally — a caller's basket column
    // named "a"/"b"/"item" must not capture the pair references
    val bk = basketCols.indices.map(i => s"_bk_$i")
    val sets = basketSets(df, basketCols, itemCol, bk)
    val ic = sets.select(explode(col("_is")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("_c"))
    val pairs = pairCounts(sets, minCo)
    val sym = pairs.unionByName(pairs.select(col("b").as("a"),
      col("a").as("b"), col("n_ab")))
    // both count sides and the pair table descend from `items`, so the
    // lookups join through explicit aliases (plain column names are
    // ambiguous in the self-join lineage)
    val scored = sym.as("s")
      .join(ic.as("ca"), col("s.a") === col("ca.item"))
      .join(ic.as("cb"), col("s.b") === col("cb.item"))
      .select(col("s.a").as("item"), col("s.b").as("neighbor"),
        col("s.n_ab").as("n_ab"),
        round(col("s.n_ab").cast("double") /
          sqrt(col("ca._c").cast("double") * col("cb._c").cast("double")),
          6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }
}
