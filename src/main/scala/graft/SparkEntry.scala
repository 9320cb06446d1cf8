package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets a `queries` entry and
  * (where SQL-expressible) a matching `oracleSql` entry. Column names are
  * aliased identically on both sides — the driver's compare sorts columns
  * by name before hashing. Float-sum determinism: money aggregates go
  * through DECIMAL(18,4) on BOTH sides so the sum is exact and
  * order-independent, then round + cast back to DOUBLE.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(spark, dir, name)

  /** Exact, order-independent sum of a double money column. */
  private def moneySum(c: Column): Column = sum(c.cast("decimal(18,4)"))

  /** Co-purchase part edges (u < v, one row per order×pair; the graph
    * operators canonicalize/dedup downstream) via the Association
    * basket pattern: ONE exchange of lineitem (groupBy orderkey +
    * collect_set) + in-row pair expansion — the distinct + sorted
    * self-join formulation it replaces cost three full-data exchanges
    * and was the bulk of q222/q223's wall at the sf1 scale leg.
    * Baskets are ≤7 items (TPC-H lineitem), far under the in-row
    * expansion bound Association documents. NULL order keys are
    * filtered to keep the old equi-join semantics (the Association
    * NULL-basket lesson).
    */
  private def coOrderEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("_is"))
      .select(explode(expr(
        "flatten(transform(_is, a -> transform(" +
          "filter(_is, b -> b > a), " +
          "b -> named_struct('u', a, 'v', b))))")).as("_p"))
      .select(col("_p.u").as("u"), col("_p.v").as("v"))

  /** Directed adjacent-line part edges — one row per (A-line, B-line)
    * pair within an order with B.ln = A.ln + 1, src = A's part, dst =
    * B's part; duplicate (ok, ln) lines CROSS-PAIR (the testdata has
    * ~118 k duplicate (ok, ln) pairs at sf0.1) and NULL keys drop
    * (equi-join semantics). Shared by the nine adjacent-line graph
    * queries; callers apply their own src/dst predicate (`=!=` or
    * `<`), which also reproduces the NULL-part drop.
    *
    * SHAPE, measured both ways this round (r18): an Association-style
    * basket rewrite (groupBy orderkey + collect_list + in-row pair
    * expansion, one exchange) was A/B'd against this self-join at
    * sf0.1 AND at the 10× twin (interleaved arms, clean window;
    * OPTIMIZATION_r18.md §1, plans/r18/SCALE_FOCUS_sf1_*_arm.json).
    * The basket arm won mildly at sf0.1 (0.75-0.83× on the pairs
    * consumers) but lost 2.3-2.6× at 10×
    * (join 2.7-3.9 s vs basket 7.0-7.6 s): collect_list is an
    * ObjectHashAggregate (object buffers, no whole-stage codegen) and
    * the struct explode re-materializes every pair, while the
    * equi-join stays fully codegen'd and scales as a plain
    * broadcast/sort-merge. The JOIN form is therefore kept — the
    * basket trade that won for q222/q223's coOrderEdges (replacing a
    * THREE-exchange distinct+self-join) does not transfer to a plain
    * two-scan equi-join. EdgeBuildSpec pins the two formulations
    * multiset-equal, so this stays swappable if the measurement ever
    * flips at a new scale point.
    */
  private def adjacentLineEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), col("l_partkey").as("pk"))
    val nxt = li.select(col("ok"), (col("ln") - 1).as("ln"),
      col("pk").as("dst_pk"))
    li.join(nxt, Seq("ok", "ln"))
      .select(col("pk").as("src"), col("dst_pk").as("dst"))
  }

  /** Unordered within-order part pairs — one row per LINE pair
    * (A.ln < B.ln, A.pk ≠ B.pk) of an order, canonicalized
    * (u, v) = (least, greatest); `groupBy(u, v).count` over it is the
    * co-purchase support table. Join formulation for the same measured
    * reason as [[adjacentLineEdges]] (the basket arm lost 2.4× at the
    * 10× twin); EdgeBuildSpec pins the equivalence.
    */
  private def inOrderPartPairs(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), col("l_partkey").as("pk"))
    val other = li.select(col("ok"), col("ln").as("ln2"),
      col("pk").as("pk2"))
    li.join(other, Seq("ok"))
      .where(col("ln") < col("ln2") && col("pk") =!= col("pk2"))
      .select(least(col("pk"), col("pk2")).as("u"),
        greatest(col("pk"), col("pk2")).as("v"))
  }

  /** events.ts reaches queries as TimestampType regardless of the file
    * encoding — GraftSession.normalizeEventTime converts legacy Long-nanos
    * and timestamp[us] NTZ files at the read boundary — so event-time
    * helpers are plain timestamp arithmetic. Integer DIV only (epoch
    * micros ~1.7e15: double division would lose precision).
    */
  private def eventTimestamp(ts: String): Column = col(ts)

  private def eventEpochSeconds(ts: String): Column =
    expr(s"unix_micros($ts) DIV 1000000")

  /** The two sides of q14/q250/q272's as-of joins: purchases
    * (user_id, event_id, t, value) and clicks (user_id, ct,
    * click_value), one click per (user_id, ct) ([[AsOfJoin.latestPerTs]]
    * keeps the match deterministic); `t`/`ct` are epoch seconds.
    */
  private def purchasesAndClicks(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
      eventEpochSeconds("ts").as("t"), col("value"), col("event_type"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("t"), col("value"))
    val clicks = AsOfJoin.latestPerTs(
      e.where(col("event_type") === "click")
        .select(col("user_id"), col("t").as("ct"),
          col("value").as("click_value")),
      Seq("user_id"), "ct", "click_value")
    (purchases, clicks)
  }

  /** For each purchase, the latest prior-or-equal click of the same
    * user (q14 and q250).
    */
  private def lastClickBeforePurchase(s: SparkSession, dir: String)
      : DataFrame = {
    val (purchases, clicks) = purchasesAndClicks(s, dir)
    AsOfJoin.asofBackward(purchases, clicks, Seq("user_id"), "t", "ct",
        Seq("click_value"))
      .select(col("event_id"), col("user_id"), col("t"),
        col("asof_ts").as("click_t"),
        round(col("click_value"), 6).as("click_value"))
      .orderBy(col("event_id"))
  }

  /** Micro-batch stream over events.parquet: the source needs the FILE
    * schema (not the normalized one), then the same event-time
    * normalization is applied post-load — it is a pure projection, so it
    * composes with streaming frames.
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame =
    GraftSession.normalizeEventTime(
      graft.streaming.Streams.fileSource(s, dir,
        GraftSession.tableSchema(s, dir, "events"),
        globFilter = Some("events.parquet")))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Scratch path for sink round-trip queries, isolated per application
    * (two concurrent runs — e.g. a Verify and a Bench — must not
    * overwrite each other's sink directories mid-read). Siblings from
    * previous applications are deleted on the way in so repeated runs
    * don't grow tmpdir unboundedly — but only once they are older than
    * `staleAfterMs`: a sibling's name alone can't distinguish a live
    * concurrent run from a dead one, and deleting a live run's directory
    * mid-read would recreate exactly the race the per-app suffix
    * prevents. 6 h is far beyond any run's lifetime.
    */
  private def scratch(s: SparkSession, name: String): String = {
    val staleAfterMs = 6L * 3600 * 1000
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val prefix = "graft_" + name + "_"
    val mine = prefix + s.sparkContext.applicationId
    val cutoff = System.currentTimeMillis() - staleAfterMs
    val stale = tmp.listFiles((_, n) => n.startsWith(prefix) && n != mine)
    if (stale != null)
      stale.filter(_.lastModified() < cutoff)
        .foreach(graft.LocalFs.deleteRecursively)
    new java.io.File(tmp, mine).getPath
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // O6/O7: partial+final hash aggregation (SamRegion accumulation,
    // S/utils/SamRegion.scala:48-65; totals at S/SparkGA1.scala:1138-1147).
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          round(avg(col("l_quantity")), 6).as("avg_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // O4: projection + predicates — bitmask clear, ignore-list, inequality
    // (SamRegionsParser.scala:44-53 shape).
    "q2_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(Filters.maskClear(col("l_linenumber"), 4) &&
               Filters.notIgnored(col("l_returnflag"), Seq("N")) &&
               col("l_quantity") > 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
                col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // O5: range-bucket assignment via per-group derived widths
    // (DictParser.java:80-96 + SamRegionsParser.scala:60).
    "q3_bucketize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val dict = li.groupBy(col("l_suppkey"))
        .agg(max(col("l_orderkey")).as("length"))
      val w = Bucketize.widths(dict, "l_suppkey", "length", 10)
      Bucketize.withBucket(li, w, "l_suppkey", "l_orderkey")
        .groupBy(col("l_suppkey"), col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
             min(col("l_orderkey")).as("min_pos"),
             max(col("l_orderkey")).as("max_pos"))
        .orderBy(col("l_suppkey"), col("bucket"))
    }),

    // O14: distinct (S/SparkGA1.scala:1241).
    "q4_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // O15: global total sort by composite key (S/SparkGA1.scala:1236-1251)
    // — range exchange + per-partition sort, no driver collect.
    "q5_global_sort" -> ((s, dir) => {
      Ordering.globalSort(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        Seq(col("l_orderkey"), col("l_linenumber")))
    }),

    // O16: size-descending top-k (largest-first scheduling,
    // S/SparkGA1.scala:1159-1161) — TakeOrderedAndProject, not a full sort.
    "q6_topk" -> ((s, dir) => {
      Ordering.topK(
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice")),
        100, Seq(desc("o_totalprice"), asc("o_orderkey")))
    }),

    // O21: broadcast dimension lookup (dict broadcast,
    // S/SparkGA1.scala:1006) as a two-level broadcast hash join.
    "q7_broadcast_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
             round(moneySum(col("c_acctbal")), 2).cast("double")
               .as("sum_acctbal"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // O13: containment range join — event timestamps against day
    // intervals derived from the same stream (exome-BED intersection
    // shape, S/SparkGA1.scala:657-732; small side broadcast).
    //
    // The containment condition is BANDED on the day bucket: the
    // equi-key `date_trunc('day', ets) = day` makes this a broadcast
    // HASH join (each event probes exactly one bucket) with the interval
    // predicates left as residuals. The naive pure-inequality form is a
    // BroadcastNestedLoopJoin — |events|×|days| predicate evaluations,
    // quadratic in the time span; the banded form is linear and stays
    // linear at any span (plan-pinned in PlanSpec).
    "q8_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events").withColumn("ets", eventTimestamp("ts"))
      val days = e.select(date_trunc("day", col("ets")).as("day")).distinct()
      e.join(broadcast(days),
          date_trunc("day", col("ets")) === col("day") &&
          col("ets") >= col("day") &&
          col("ets") < col("day") + expr("INTERVAL '1' DAY"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
             round(moneySum(col("value")), 4).cast("double").as("sum_value"))
        .orderBy(col("day"))
    }),

    // O13: interval-overlap join with overlap length + degenerate fix-up
    // (SparkGA1.scala:692-695).
    "q9_interval_overlap" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").groupBy(col("l_suppkey"))
        .agg(min(col("l_orderkey")).as("astart"),
             max(col("l_orderkey")).as("aend"))
      val b = t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(min(col("o_orderkey")).as("bstart"),
             max(col("o_orderkey")).as("bend"))
      val bf = RangeJoin.fixDegenerate(b, "bstart", "bend")
      a.join(broadcast(bf),
          RangeJoin.overlaps(col("astart"), col("aend"),
                             col("bstart"), col("bend")))
        .select(col("l_suppkey"), col("o_orderpriority"),
          (least(col("aend"), col("bend")) -
           greatest(col("astart"), col("bstart")) + 1).as("overlap_len"))
        .orderBy(col("l_suppkey"), col("o_orderpriority"))
    }),

    // O12: gap-tolerant interval coalescing / sessionization
    // (RegionIterator.java:59,101-132; gap here = 1800s on event time).
    "q10_sessionize" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), eventEpochSeconds("ts").as("t"))
      Sessionize.sessionizeEvents(e, Seq("user_id"), "t", 1800L)
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // O17 (MarkDuplicates step): deterministic keep-best-per-key dedup.
    // Aggregate formulation (max_by) — map-side partials mean the shuffle
    // carries one candidate per (partition × key), not every row; the
    // window (row_number) formulation lives in Dedup.firstPerKey.
    "q11_markdup" -> ((s, dir) => {
      Dedup.firstPerKeyAgg(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
                  col("l_extendedprice")),
        Seq("l_orderkey"),
        struct(col("l_extendedprice"), -col("l_linenumber")))
        .orderBy(col("l_orderkey"))
    }),

    // O10: exact equal-frequency split (ntile) — the reference's
    // sorted-histogram hot-region split (SparkGA1.scala:346-353,550-570).
    // AutoBuckets (r19): above ~8 MB/bucket of input the rank pass
    // range-splits the order domain so the sort runs on #keys×B tasks
    // instead of 3 — the q53/q33 protocol applied to ntile, with B
    // derived from input size (plain window at the base SF, 0.47× at
    // the 100× twin); segments are bit-identical (the order is total:
    // (price, orderkey, linenumber) is unique).
    "q12_ntile" -> ((s, dir) => {
      Skew.ntileSplit(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"),
                  col("l_orderkey"), col("l_linenumber")),
        Seq("l_returnflag"), 4,
        Seq("l_extendedprice", "l_orderkey", "l_linenumber"),
        orderBuckets = Skew.AutoBuckets)
        .groupBy(col("l_returnflag"), col("segment"))
        .agg(count(lit(1)).as("n_rows"),
             min(col("l_extendedprice")).as("min_price"),
             max(col("l_extendedprice")).as("max_price"))
        .orderBy(col("l_returnflag"), col("segment"))
    }),

    // O9: salted two-level aggregation for hot keys
    // (segments = round(n·factor/avg), SparkGA1.scala:242).
    "q13_salted_agg" -> ((s, dir) => {
      Skew.saltedSumCount(t(s, dir, "lineitem"), Seq("l_suppkey"),
          "l_quantity", saltBuckets = 8)
        .orderBy(col("l_suppkey"))
    }),

    // As-of join (trades/quotes shape): for each purchase event, the
    // latest prior-or-equal click of the same user. Co-partitioned
    // sort-merge exec (plans/AsOfJoinExec) — no quadratic range join;
    // at sf0.1 it runs in 0.80x the time of the union + LOCF window
    // form it replaced (AsOfJoin.scala)
    "q14_asof_join" -> ((s, dir) => lastClickBeforePurchase(s, dir)),

    // Money aggregation with exact decimal arithmetic (order-independent).
    "q15_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)") *
                       (lit(1).cast("decimal(18,4)") -
                        col("l_discount").cast("decimal(18,4)"))), 2)
               .cast("double").as("revenue"))
        .orderBy(col("l_returnflag"))
    }),

    // Set operations: union-distinct + except (the reference's implicit
    // union of per-chunk outputs, S/SparkGA1.scala:1098,1236 + distinct).
    "q16_setops" -> ((s, dir) => {
      val ck = t(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sk = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
      val r0 = t(s, dir, "nation").where(col("n_regionkey") === 0)
        .select(col("n_nationkey").as("k"))
      ck.union(sk).distinct().except(r0).orderBy(col("k"))
    }),

    // O17 full chain: the per-group pipeline runner end-to-end —
    // clean (drop price<5000) → markDuplicates (best price per supplier
    // within the order) → recalibrate (double the price) → call
    // (per-order summary) — all inside ONE flatMapGroups.
    "q40_group_pipeline" -> ((s, dir) => {
      val spark2 = s
      import spark2.implicits._
      // row = (orderkey, linenumber, suppkey, price)
      val ds = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
                col("l_extendedprice"))
        .as[(Long, Int, Long, Double)]
      graft.plans.GroupPipeline.run[Long, (Long, Int, Long, Double),
                                    (Long, Long, Double)](
        ds, _._1,
        Seq(
          graft.plans.GroupPipeline
            .cleanStage[(Long, Int, Long, Double)](_._4 >= 5000),
          graft.plans.GroupPipeline
            .markDupStage[(Long, Int, Long, Double), Long](_._3,
            // best = highest price, then lowest linenumber
            scala.Ordering.by[(Long, Int, Long, Double), (Double, Int)](
              r => (-r._4, r._2))),
          graft.plans.GroupPipeline
            .recalibrateStage[(Long, Int, Long, Double)](r =>
            r.copy(_4 = r._4 * 2))
        ),
        (k, it) => {
          var n = 0L; var sum = BigDecimal(0)
          // mirror the oracle's DECIMAL(18,4) term quantization exactly
          it.foreach { r => n += 1
            sum += BigDecimal(r._4).setScale(4, BigDecimal.RoundingMode.HALF_UP) }
          // a group whose rows were all cleaned away emits nothing
          if (n == 0) Iterator.empty
          else Iterator((k, n,
            sum.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
        })
        .toDF("l_orderkey", "n_kept", "sum_recal")
        .orderBy(col("l_orderkey"))
    }),

    // Set operations, part 2: intersect (complement of q16's
    // union-distinct + except).
    "q39_intersect" -> ((s, dir) => {
      val ck = t(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sk = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
      ck.intersect(sk).orderBy(col("k"))
    }),

    // Scalar function library: string split/slice/concat/replace/indexOf,
    // int div/mod bucketing, bitwise AND, round
    // (SamRegionsParser.scala:42,46; SparkGA1.scala:329-330).
    "q17_scalar_fns" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_name"), 1, 5).as("name_prefix"),
        regexp_replace(col("p_name"), "a", "@").as("name_repl"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"),
        instr(col("p_type"), " ").as("type_space"),
        (col("p_size") % 7).as("size_mod"),
        col("p_size").bitwiseAND(3).as("size_band"),
        round(col("p_retailprice") / 7, 4).as("price_div"))
        .orderBy(col("p_partkey"))
    }),

    // ---- LLM-training-data pipeline operators (north-star additions) ----

    // Text analysis: token counting + quality scoring over documents.
    // Tokenize ONCE into a column; all stats derive from it.
    "q18_text_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
                TextAnalysis.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          TextAnalysis.tokenCountOf(col("toks")).as("n_tokens"),
          round(TextAnalysis.distinctTokenRatioOf(col("toks")), 6)
            .as("distinct_ratio"),
          round(TextAnalysis.meanTokenLengthOf(col("toks")), 6)
            .as("mean_tok_len"),
          round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          TextAnalysis.qualityScoreOf(col("text"), col("toks"))
            .as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Language ID: stopword-profile argmax heuristic (single tokenize;
    // marker counting via the native graft_count_in kernel — the HOF
    // filter() form runs one interpreted lambda per token per profile).
    "q19_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextAnalysis.langIdNative(col("toks"), langProfiles)
            .as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    // Exact dedup via md5 fingerprint classes (dedup at 16B/doc shuffle).
    "q20_exact_dedup" -> ((s, dir) => {
      NearDup.exactDedupClasses(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fp"))
    }),

    // Exact 3-gram Jaccard pairs within a blocking key (inverted-index
    // join — never all-pairs).
    "q21_jaccard" -> ((s, dir) => {
      NearDup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          "source", 3, 0.01)
        .orderBy(col("a"), col("b"))
    }),

    // MinHash(16) + LSH banding(8 bands × 2 rows) candidate pairs.
    "q22_minhash_lsh" -> ((s, dir) => {
      NearDup.minhashCandidatePairs(t(s, dir, "documents"), "doc_id",
          "text", 3, 16, 8)
        .orderBy(col("a"), col("b"))
    }),

    // SimHash (64-bit, md5-derived) per document, as four 16-bit bands.
    "q23_simhash" -> ((s, dir) => {
      NearDup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Brute-force cosine top-k similarity search (exact baseline).
    "q24_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb,
          "vec_id", "embedding", 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // IVF ANN: coarse-quantize to 8 centroids, probe own cluster only.
    "q25_ivf_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(
          emb.where(col("vec_id") >= 10 && col("vec_id") < 20), emb,
          emb.where(col("vec_id") < 8), "vec_id", "embedding", 3)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Int8-quantized ANN: coarse rank on exact-integer quantized cosine
    // (4x narrower vectors through the broadcast + scoring), exact
    // rerank only on each query's top-20 survivors.
    "q68_quantized_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(emb.where(col("vec_id") < 10), emb,
          "vec_id", "embedding", 5, 20)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // IVF ANN with multi-probe: each query probes its top-2 centroid
    // cells. Recall at cell boundaries is the known IVF failure mode —
    // nprobe=2 trades one extra joined cell per query for recovering the
    // neighbors whose vectors sit just across the boundary.
    "q63_ivf_nprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(
          emb.where(col("vec_id") >= 10 && col("vec_id") < 20), emb,
          emb.where(col("vec_id") < 8), "vec_id", "embedding", 3,
          nprobe = 2)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Real media decode: synthesize a genuine BMP / PCM-16 WAV / JPEG /
    // GIF (doc_id % 4) per document with doc_id-determined parameters,
    // then recover width/height/sample-rate/channels by parsing the
    // actual file bytes distributed (extractFeatures → decodeMedia).
    // JPEG dims come from a marker-segment walk to SOF0 (past a
    // variable-length COM segment, so the walk is exercised, not just a
    // fixed offset); GIF from the logical screen descriptor. The oracle
    // reproduces the parameter arithmetic + size formulas — the
    // encode→decode byte round-trip is what's under test.
    "q64_media_decode" -> ((s, dir) => {
      val spark2 = s
      import spark2.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val bytes = (id % 4) match {
            case 0 =>
              Multimodal.encodeBmp((id % 37).toInt + 1, (id % 23).toInt + 1)
            case 1 =>
              Multimodal.encodeWav(8000 + (id % 5).toInt * 1000,
                ((id / 5) % 2).toInt + 1, (id % 50).toInt + 100)
            case 2 =>
              Multimodal.encodeJpeg((id % 41).toInt + 1, (id % 29).toInt + 1,
                (id % 16).toInt)
            case _ =>
              Multimodal.encodeGif((id % 31).toInt + 1, (id % 17).toInt + 1)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(s, media, "doc_id")
        .select(col("doc_id"), col("format"), col("width"), col("height"),
                col("sample_rate"), col("channels"), col("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // Window functions: lag / rank / running sum per user over event time.
    "q26_window_fns" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
        eventEpochSeconds("ts").as("t"), col("value"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      e.select(col("event_id"), col("user_id"), col("t"),
          round(col("value"), 6).as("value"),
          round(lag(col("value"), 1).over(w), 6).as("prev_value"),
          row_number().over(w).as("rn"),
          round(sum(col("value")).over(w), 6).as("run_sum"))
        .orderBy(col("user_id"), col("rn"))
    }),

    // Rollup (hierarchical subtotals) with grouping id.
    "q27_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("n_rows"),
             sum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
                coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
                col("gid"), col("n_rows"), col("sum_qty"))
        .orderBy(col("gid"), col("rf"), col("ls"))
    }),

    // CUBE — all 2^k grouping combinations in ONE pass (q27's rollup
    // sibling; the reference has no grouping sets at all). Catalyst
    // plans one Expand + one hash aggregate: the cross-tab report that
    // would otherwise be 4 scans is one.
    "q96_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("n_rows"),
             sum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
                coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
                col("gid"), col("n_rows"), col("sum_qty"))
        .orderBy(col("gid"), col("rf"), col("ls"))
    }),

    // Semi-structured extraction: JSON property → typed column.
    "q28_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
             min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // Multimodal: opaque binary payload + metadata struct; expression-only
    // features (size, content hash, prefix sample) — decode stub is
    // exercised in the MultimodalSpec, plumbing is identical.
    "q29_multimodal" -> ((s, dir) => {
      Multimodal.payloadFeatures(
          Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text"),
          "doc_id")
        .orderBy(col("doc_id"))
    }),

    // O12 as a custom Aggregator: gap-tolerant interval union — same
    // semantics as q10's window sessionization but shuffles interval
    // lists, not rows (map-side partial aggregation).
    "q30_interval_union" -> ((s, dir) => {
      val iu = udaf(graft.functions.IntervalUnionAgg(1800L))
      t(s, dir, "events")
        .select(col("user_id"), eventEpochSeconds("ts").as("t"))
        .groupBy(col("user_id"))
        .agg(iu(col("t"), col("t"), lit(1L)).as("ivs"))
        .select(col("user_id"), explode(col("ivs")).as("iv"))
        .select(col("user_id"), col("iv.start").as("sess_start"),
                col("iv.end").as("sess_end"), col("iv.n").as("n_rows"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // Built-in session_window in batch mode (the Structured Streaming
    // session operator over the same data; streaming twin in
    // streaming/Streams.sessionAgg). Session = events within 1800s gap;
    // window end = last event + gap.
    "q32_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("user_id"), eventTimestamp("ts").as("ets"))
        .groupBy(col("user_id"), session_window(col("ets"), "1800 seconds"))
        .agg(count(lit(1)).as("n_rows"))
        .select(col("user_id"),
          col("session_window.start").cast("long").as("sess_start"),
          col("session_window.end").cast("long").as("sess_end"),
          col("n_rows"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // Exact percentiles per group (the reference's exact sorted-histogram
    // boundaries, O10). Distributed formulation (Stats.exactPercentiles):
    // the built-in exact `percentile` merges whole value→count maps on
    // #groups reducers — 3× slower here and worse with scale.
    "q33_percentile" -> ((s, dir) => {
      Stats.exactPercentiles(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_extendedprice",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))
        .select(col("l_returnflag"), round(col("p25"), 4).as("p25"),
                round(col("p50"), 4).as("p50"),
                round(col("p90"), 4).as("p90"))
        .orderBy(col("l_returnflag"))
    }),

    // Sketch aggregates: HLL distinct + approximate quantiles. DuckDB
    // can't replay a sketch, but it CAN compute the exact twin — so the
    // output carries the exact values plus BOUND BOOLEANS the oracle
    // hashes: orders_ok = |HLL − exact| ≤ 3·rsd·exact (rsd = 0.05, so
    // a 3σ bound), median_ok = approx median lands between the exact
    // p49/p51 values (accuracy=10000 ⇒ rank error ≤ n/10000, far
    // inside the ±1%-rank window). A sketch gone wrong flips a boolean
    // → hash mismatch → red oracle row. The exact percentile window
    // comes from Stats.exactPercentiles (the q33 distributed sort/rank
    // formulation) — NEVER the `percentile` aggregate, whose buffer
    // holds every group value (measured 32× this query's cost at
    // sf0.1, and an OOM at corpus scale).
    "q34_approx_sketch" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // the sketch aggs and countDistinct must be SEPARATE aggregates:
      // fused, Spark's distinct rewrite keys the partial stage by
      // (flag, l_orderkey) and merges a percentile/HLL buffer per
      // distinct orderkey — 150k sketch buffers, measured 26 s for a
      // 0.3 s query. Three tiny per-flag frames, two broadcast joins.
      val sk = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("approx_median"))
      val ex = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      val win = Stats.exactPercentiles(li, Seq("l_returnflag"),
        "l_extendedprice", Seq("p49" -> 0.49, "p51" -> 0.51))
      val agg = sk.join(broadcast(ex), Seq("l_returnflag"))
      agg.join(broadcast(win), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders")) <=
            col("exact_orders") * 0.15).as("orders_ok"),
          (col("approx_median") >= col("p49") &&
           col("approx_median") <= col("p51")).as("median_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // O13 at scale: banded (bucketed) interval join — big×big overlap
    // join as an equi-join on (key, coarse bucket) + residual predicate;
    // no broadcast, no cartesian blow-up.
    "q38_banded_interval_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.groupBy(col("l_suppkey"), col("l_returnflag"))
        .agg(min(col("l_orderkey")).as("astart"),
             max(col("l_orderkey")).as("aend"))
      val b = li.groupBy(col("l_suppkey"), col("l_linestatus"))
        .agg(min(col("l_orderkey")).as("bstart"),
             max(col("l_orderkey")).as("bend"))
      RangeJoin.bucketedOverlapJoin(a, b, Seq("l_suppkey"),
          "astart", "aend", "bstart", "bend", bucketWidth = 10000L)
        .select(col("l_suppkey"), col("l_returnflag"), col("l_linestatus"),
          (least(col("aend"), col("bend")) -
           greatest(col("astart"), col("bstart")) + 1).as("overlap_len"))
        .orderBy(col("l_suppkey"), col("l_returnflag"), col("l_linestatus"))
    }),

    // k-means Lloyd iteration over the embedding corpus (long form:
    // one row per centroid × dimension — engine-exact cross-check).
    "q36_kmeans_iter" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.kmeansIter(emb, emb.where(col("vec_id") < 8),
          "vec_id", "embedding")
        .orderBy(col("centroid_id"), col("pos"))
    }),

    // Multi-round Lloyd trainer (q36 is one step): 2 rounds, same
    // init; the oracle replays BOTH rounds — the quantized
    // (6 dp + float-truncated) mean recurrence exists precisely so an
    // independent engine can replay it bit-identically.
    "q289_kmeans_train" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.kmeansTrain(emb, emb.where(col("vec_id") < 8),
          "vec_id", "embedding", iterations = 2)
        .orderBy(col("centroid_id"), col("pos"))
    }),

    // The FULL trainer contract on top of q289's fixed-round core:
    // hash-deterministic seeding (the 8 smallest-md5(vec_id) vectors —
    // the same md5-on-id convention as q37's hashSample, so any engine
    // replays the seed set) plus the quantized-shift early stop
    // (training halts once a round moves no centroid coordinate by
    // more than tol). The oracle unrolls all three candidate rounds
    // AND the stop decision itself — guarded UNION branches over
    // scalar max-shift subqueries — so the ROUND COUNT is
    // oracle-checked, not assumed.
    "q290_kmeans_converged" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val init = Similarity.kmeansInit(emb, "vec_id", "embedding", 8)
      // tol chosen so the stop FIRES at the verify SF (sf0.01 shifts:
      // round 1 = 0.344 > tol, round 2 = 0.0336 <= tol → training
      // stops at round 2 and round 3 never runs) — the oracle's
      // guarded branches replay that decision live, not as dead code
      Similarity.kmeansTrain(emb, init, "vec_id", "embedding",
          iterations = 3, tol = 0.05)
        .orderBy(col("centroid_id"), col("pos"))
    }),

    // Deterministic hash sampling (reproducible dataset curation):
    // ~20% of documents by md5(doc_id), counted per source.
    "q37_det_sample" -> ((s, dir) => {
      Sampling.hashSample(t(s, dir, "documents"), "doc_id", 51)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
             sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // O9: salted equi-join — hot keys spread over 8 reducers; result
    // identical to the plain join (oracle = plain join).
    "q35_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      Skew.saltedJoin(li, sup, Seq("l_suppkey"), 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_rows"),
             sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_nationkey"))
    }),

    // O10 scale mode: approximate equal-frequency split — the 100× answer
    // to q12. `percentile_approx` boundaries (one sketch pass, map-side
    // combined) + a codegen'd broadcast segment lookup: NO per-key full
    // sort, NO window — the plan stays embarrassingly parallel however
    // hot the key. The boundary VALUES have no SQL-exact twin, but the
    // split's defining properties do, so the oracle hashes those: per
    // key, the segments cover every row (n_rows = exact count), there
    // are between 1 and 4 of them (n_segments_ok — NOT exactly 4: on a
    // heavily tied distribution percentile_approx may legitimately emit
    // duplicate boundaries, leaving a segment empty; asserting ==4 was
    // a false-red trap), they tile the value axis without overlap
    // (contiguous_ok, via a tiny self-join on segment+1 — no window),
    // and each holds 15-35% of the rows (balance_ok; exact target 25%,
    // accuracy=10000 ⇒ rank error ≤ n/10000 ≪ the slack). The error
    // bound itself is still asserted tightly in SkewApproxSpec.
    "q41_approx_segment" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      val bounds = Skew.approxBoundaries(li, Seq("l_returnflag"),
        "l_extendedprice", 4)
      val seg = Skew.segmentByBoundaries(li, bounds, Seq("l_returnflag"),
          "l_extendedprice")
        .groupBy(col("l_returnflag"), col("segment"))
        .agg(count(lit(1)).as("n_rows"),
             min(col("l_extendedprice")).as("min_price"),
             max(col("l_extendedprice")).as("max_price"))
      val adj = seg.select(col("l_returnflag"),
        (col("segment") + 1).as("segment"),
        col("max_price").as("_prev_max"))
      seg.join(broadcast(adj), Seq("l_returnflag", "segment"), "left")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("n_rows")).as("n_rows"),
             count(lit(1)).as("n_segments"),
             expr("bool_and(_prev_max IS NULL OR _prev_max <= min_price)")
               .as("contiguous_ok"),
             max(col("n_rows")).as("_max_n"),
             min(col("n_rows")).as("_min_n"))
        .select(col("l_returnflag"), col("n_rows"),
          (col("n_segments") >= 1 && col("n_segments") <= 4)
            .as("n_segments_ok"),
          col("contiguous_ok"),
          (col("_max_n") <= col("n_rows") * 0.35 &&
           col("_min_n") >= col("n_rows") * 0.15).as("balance_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // O24: pair interleave — record i of side A immediately followed by
    // record i of side B (the reference's paired-FASTQ chunker,
    // README.md:119-130). Global (idx, side) order comes from range
    // partitioning + within-partition sort — no single-task gather.
    "q42_interleave" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.where(col("l_linenumber") === 1)
        .select(col("l_orderkey"), lit(0).as("side"),
                col("l_quantity").as("qty"))
      val b = li.where(col("l_linenumber") === 2)
        .select(col("l_orderkey"), lit(1).as("side"),
                col("l_quantity").as("qty"))
      graft.sources.Interleave.pairInterleave(a, b, "l_orderkey")
    }),

    // O2: a GENUINELY STREAMING execution — micro-batch file source +
    // marker readiness semi-join + event-time session windows, drained
    // with Trigger.AvailableNow (the reference's marker-file poll loop +
    // end.txt sentinel, S/SparkGA1.scala:94-110,1050-1081). Oracle = the
    // batch session SQL (same as q32): streaming and batch must agree.
    "q43_stream_sessions" -> ((s, dir) => {
      // complete-mode sink: the trailing no-data batch only evicts
      // closed sessions from state, the emitted table is identical —
      // skip it (noEvictionDrainSession scaladoc; r18)
      val sd = graft.streaming.Streams.noEvictionDrainSession(s)
      val stream = eventsStream(sd, dir)
      val markers = t(sd, dir, "events").select(col("user_id")).distinct()
      val ready = graft.streaming.Streams.readyFilter(
        stream, markers, "user_id")
      val sess = graft.streaming.Streams.sessionAgg(
        ready.select(col("user_id"), eventTimestamp("ts").as("ets")),
        Seq("user_id"), "ets", "1800 seconds", "0 seconds")
      graft.streaming.Streams.drainToMemory(sess, "graft_q43_sessions")
        .select(col("user_id"),
          col("sess_start").cast("long").as("sess_start"),
          col("sess_end").cast("long").as("sess_end"),
          col("n_rows"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // O19: key-partitioned sink → re-read with a partition-key filter.
    // The filter must prune to ONE directory at the scan (PartitionFilters
    // — pinned in PlanSpec); oracle = the same filter applied directly.
    "q44_partitioned_sink" -> ((s, dir) => {
      val path = scratch(s, "q44_sink")
      graft.sources.Sinks.writePartitioned(
        t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"), col("source")),
        Seq("source"), path)
      s.read.parquet(path)
        .where(col("source") === "src7")
        .select(col("doc_id"), col("n_chars"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // O19/O21: bucketed sink → EXCHANGE-FREE sort-merge join + agg. Both
    // fact tables are bucketed on the join key, so the join and the
    // following group-by reuse the at-rest partitioning: zero shuffle
    // exchanges in the whole query (pinned in PlanSpec) — the
    // per-(chr,region) co-location the reference builds by hand with
    // sideband files (S/SparkGA1.scala:150-214).
    "q45_bucketed_join" -> ((s, dir) => {
      graft.sources.Sinks.writeBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        Seq("l_orderkey"), 8, "graft_q45_li")
      graft.sources.Sinks.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq("o_orderkey"), 8, "graft_q45_ord")
      val li = s.table("graft_q45_li")
      val ord = s.table("graft_q45_ord")
      li.join(ord.hint("merge"), li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_totalprice"))
        .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("sum_qty"))
        .select(col("o_orderkey"), col("o_totalprice"), col("n_lines"),
                col("sum_qty"))
        .orderBy(col("o_orderkey"))
    }),

    // q33's 100× mode: the same EXACT percentiles with the rank pass
    // range-split into 16 order buckets — the cumulative window runs on
    // #keys×16 tasks instead of #keys (q33's single window is the
    // q12-style few-groups funnel at scale). Results are bit-identical
    // (same oracle as q33); costs one extra linear pass for the
    // boundaries, which is the right trade once a single key's distinct
    // values no longer sort comfortably in one task.
    "q53_percentile_bucketed" -> ((s, dir) => {
      Stats.exactPercentiles(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_extendedprice",
          Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9),
          orderBuckets = 16)
        .select(col("l_returnflag"), round(col("p25"), 4).as("p25"),
                round(col("p50"), 4).as("p50"),
                round(col("p90"), 4).as("p90"))
        .orderBy(col("l_returnflag"))
    }),

    // Stratified deterministic sampling: per-source rates (downsample the
    // over-represented sources of a training mix) — the curation twin of
    // q37's flat hash sample. Decision is the same md5-threshold
    // expression, so the oracle reproduces it verbatim.
    "q52_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedHashSample(t(s, dir, "documents"), "doc_id",
          "source", Map("src0" -> 26, "src1" -> 102), 51)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
             sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("source"))
    }),

    // SimHash near-dup PAIRS (completing modality 3's pair path):
    // 4×16-bit pigeonhole-banded candidates + exact popcount filter,
    // Hamming ≤ 3.
    "q60_simhash_pairs" -> ((s, dir) => {
      NearDup.simhashPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("a"), col("b"))
    }),

    // TF-IDF domain-relevance scoring: each document's top term by
    // tf·ln(N/df), rank computed over the 6-dp-rounded score (rounding
    // BEFORE ranking — libm ln ulp noise must not flip a tie across
    // engines) with term as the tie-break.
    "q59_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = TextAnalysis.tfidf(t(s, dir, "documents"), "doc_id",
        "text")
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("score"), asc("term"))
      scored.withColumn("rnk", row_number().over(w))
        .where(col("rnk") === 1)
        .select(col("doc_id"), col("term").as("top_term"), col("tf"),
                col("df"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // Dedup modality 6: winnowing (rolling-window fingerprint selection,
    // the MOSS scheme) — catches PARTIAL containment that whole-document
    // Jaccard/MinHash miss. 3-gram hashes, window 4; pairs share ≥1
    // winnowed fingerprint within a source block.
    "q58_winnow_pairs" -> ((s, dir) => {
      NearDup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
          "source", 3, 4)
        .orderBy(col("a"), col("b"))
    }),

    // The maxDf-capped winnowing mode (the corpus-scale twin of q62's
    // capped Jaccard): fingerprints shared by > maxDf docs in a block —
    // boilerplate runs — are dropped before pairing. maxDf = 2 bites on
    // this corpus (df=3 fingerprints exist at both driver scales).
    "q65_winnow_capped" -> ((s, dir) => {
      NearDup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
          "source", 3, 4, maxDf = 2)
        .orderBy(col("a"), col("b"))
    }),

    // Sequence packing: greedily pack docs (in id order, per source)
    // into 128-token training sequences — one shuffle + a streaming
    // O(1)-state pass; the oracle walks the same greedy recurrence with
    // a recursive CTE.
    "q71_seq_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"),
        col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Packing.packSequences(docs, "source", "doc_id", "n_tokens", 128)
        .orderBy(col("source"), col("doc_id"))
    }),

    // RAG-style context-window chunking: 32-token chunks every 24
    // tokens (8-token overlap), one row per chunk, scan-stage only.
    "q70_token_chunks" -> ((s, dir) => {
      TextAnalysis.tokenChunks(t(s, dir, "documents"), "doc_id", "text",
          32, 24)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Gopher-style repetition signals: top-token / top-2-gram max
    // multiplicity (native O(n) graft_top_count kernel), duplicate-
    // 2-gram fraction, and the composite repetition filter — all
    // scan-stage, zero shuffles.
    "q67_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Bloom-prefiltered decontamination: identical results to the exact
    // contamination count (the Bloom filter only prunes; the confirming
    // semi-join removes false positives) — the shape that survives a
    // benchmark gram set too big to broadcast. Oracle = plain exact SQL.
    "q72_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      NearDup.bloomContamination(
          docs.where(col("doc_id") % 20 =!= 0),
          docs.where(col("doc_id") % 20 === 0), "doc_id", "text", 5)
        .orderBy(col("doc_id"))
    }),

    // Training-set decontamination: drop every training doc sharing a
    // 5-token shingle with the benchmark split (doc_id % 20 == 0 plays
    // the eval set). Both operator outputs are checked in one frame:
    // survivors come from decontaminate() (kept = true, zero shared
    // grams by construction), contaminated rows from contamination()
    // with their shared-gram counts. The benchmark shingle set is
    // broadcast, so the corpus never shuffles (plan-pinned).
    // Semantic dedup (SemDeDup over LSH blocks): drop vectors dominated
    // by a smaller-id ≥-τ neighbor in a shared hyperplane band, keep
    // the rest. τ matches q91 — the synthetic embeddings carry no mass
    // above cosine 0.6 (probed), so a realistic 0.9+ τ would make the
    // oracle vacuous; the threshold is a knob, the machinery is the op.
    "q108_semdedup" -> ((s, dir) => {
      Similarity.semanticDedup(t(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, bits = 32, bandBits = 8,
          minCosine = 0.35)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // Encoding-damage gate: deterministic mojibake injection (U+FFFD
    // for %7 ids, a BEL control char for %5 ids), then detection counts
    // + the repaired text's fingerprint — the pre-statistics hygiene
    // pass every crawl pipeline runs
    "q109_sanitize" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0, lit("\u0007 ")).otherwise(lit("")),
          coalesce(col("text"), lit("")),
          when(col("doc_id") % 7 === 0, lit(" \uFFFD\uFFFDx"))
            .otherwise(lit(""))).as("text"))
      injected.select(col("doc_id"),
          replacementCharCount(col("text")).cast("long").as("n_repl"),
          controlCharCount(col("text")).cast("long").as("n_ctrl"),
          md5(sanitizeText(col("text"))).as("clean_md5"))
        .withColumn("is_clean",
          col("n_repl") === 0 && col("n_ctrl") === 0)
        .orderBy(col("doc_id"))
    }),

    // Weighted sample without replacement (A-ES): inclusion odds
    // proportional to document length, deterministic via the md5
    // uniform — "prefer long documents, reproducibly"
    "q110_weighted_sample" -> ((s, dir) => {
      Sampling.weightedSample(
        t(s, dir, "documents")
          .select(col("doc_id"), (col("n_chars") + 1).as("w")),
        "doc_id", col("w"), k = 200, seed = "aes")
        .orderBy(col("doc_id"))
    }),

    // Duplicate-class canonicalization: collapse exact-dup classes
    // keeping the BEST member (highest n_chars, min-id tie-break via the
    // rank fold), not the min-id one — injected mirror copies (%10 ids,
    // quality nudged by id%3) must win exactly when their quality is
    // strictly higher
    "q111_canonicalize" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val copies = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          (col("n_chars") + col("doc_id") % 3).as("n_chars"))
      NearDup.canonicalDocs(base.unionByName(copies), "doc_id", "text",
          col("n_chars") * lit(16777216L) - col("doc_id"))
        .orderBy(col("fp"))
    }),

    // Asymmetric containment near-dup: injected half-length excerpts
    // (%6 ids) score containment ≈ 1 against their source doc while
    // Jaccard would sit near 0.5 — the sub-document duplication metric
    "q112_containment" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val excerpts = base.where(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          substring(coalesce(col("text"), lit("")), lit(1),
            floor(length(coalesce(col("text"), lit(""))) / 2)
              .cast("int")).as("text"),
          col("source"))
      NearDup.containmentPairs(base.unionByName(excerpts), "doc_id",
          "text", "source", 3, 0.8)
        .orderBy(col("a"), col("b"))
    }),

    // Link-graph authority scoring: parts co-ordered on consecutive
    // line numbers form a directed graph; 3 fixed PageRank rounds (the
    // crawl-graph quality prior — Components' sibling iterative op,
    // same checkpointed-loop protocol). The oracle unrolls the same 3
    // rounds in SQL; round(·,9) absorbs double-sum association noise
    "q113_pagerank" -> ((s, dir) => {
      val edges = adjacentLineEdges(s, dir)
        .where(col("src") =!= col("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 3)
        .select(col("id"), round(col("pr"), 9).as("pr"))
        .orderBy(col("id"))
    }),

    // Blob interchange round-trip: export %9 docs as one binary file
    // each (executor-side writes, no collect), re-ingest via the
    // binaryFile source, prove content survives byte-exactly (md5 of
    // the read-back bytes vs the oracle's md5 of the source text).
    // Payloads are newline-terminated so no blob is 0 bytes — the
    // source drops empty files at split planning (Sinks scaladoc)
    "q114_blob_roundtrip" -> ((s, dir) => {
      val blobs = t(s, dir, "documents").where(col("doc_id") % 9 === 0)
        .select(concat(lit("doc_"), col("doc_id").cast("string"),
            lit(".bin")).as("fname"),
          encode(concat(coalesce(col("text"), lit("")), lit("\n")),
            "UTF-8").as("payload"))
      val out = "/tmp/graft_q114_blobs"
      graft.sources.Sinks.writeBlobFiles(blobs, "fname", "payload", out)
      graft.sources.Sinks.readBlobFiles(s, out)
        .select(element_at(split(col("path"), "/"), -1).as("fname"),
          col("length").as("byte_len"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("fname"))
    }),

    // Schema-evolution read: a v1 batch (no lang column) and a v2 batch
    // (lang added) union into one frame via mergeSchema — v1 rows carry
    // NULL lang; without the option the new column silently vanishes
    "q115_schema_evolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = "/tmp/graft_q115"
      docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("text_md5"))
        .write.mode("overwrite").parquet(s"$base/v1")
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("text_md5"),
          col("lang"))
        .write.mode("overwrite").parquet(s"$base/v2")
      graft.sources.Sinks.readEvolved(s, s"$base/v1", s"$base/v2")
        .orderBy(col("doc_id"))
    }),

    // End-to-end fuzzy dedup (the SlimPajama/Gopher shape): jaccard
    // near-dup pairs → connected-component closure → per-class
    // canonical pick by QUALITY (longest doc, min-id tie-break) —
    // q73 labels classes; this makes the dedup DECISION
    "q119_fuzzy_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (pairs, handle) = NearDup.jaccardPairsWithHandle(docs,
        "doc_id", "text", "source", 3, 0.01)
      val labels = Components.connectedComponents(pairs, "a", "b")
      val out = docs.select(col("doc_id"), col("n_chars"))
        .join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"),
          col("n_chars"))
        .groupBy(col("component"))
        .agg(max_by(col("doc_id"),
            col("n_chars") * lit(16777216L) - col("doc_id"))
          .as("keep_id"),
          count(lit(1)).as("class_size"))
      handle.release()
      out.orderBy(col("component"))
    }),

    // Media-crawl ingest end-to-end: synthesize deterministic media
    // blobs (q64's corpus, %6 subset), export each as a FILE
    // (executor-side), re-ingest via binaryFile, recover the id from
    // the filename, and decode formats/dims — the full
    // files-on-disk → typed-metadata path a multimodal crawl runs
    "q138_media_ingest" -> ((s, dir) => {
      val spark2 = s
      import spark2.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter(_ % 6 == 0)
        .map { id =>
          val bytes = (id % 4) match {
            case 0 =>
              Multimodal.encodeBmp((id % 37).toInt + 1, (id % 23).toInt + 1)
            case 1 =>
              Multimodal.encodeWav(8000 + (id % 5).toInt * 1000,
                ((id / 5) % 2).toInt + 1, (id % 50).toInt + 100)
            case 2 =>
              Multimodal.encodeJpeg((id % 41).toInt + 1, (id % 29).toInt + 1,
                (id % 16).toInt)
            case _ =>
              Multimodal.encodeGif((id % 31).toInt + 1, (id % 17).toInt + 1)
          }
          (s"m_$id.bin", bytes)
        }.toDF("fname", "payload")
      val out = "/tmp/graft_q138_media"
      graft.sources.Sinks.writeBlobFiles(media, "fname", "payload", out)
      val back = graft.sources.Sinks.readBlobFiles(s, out)
        .select(regexp_extract(element_at(split(col("path"), "/"), -1),
            "m_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
          col("content").as("payload"))
      Multimodal.extractFeatures(s, back, "doc_id")
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("sample_rate"), col("channels"),
          col("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // Class-distinctive terms (c-TF-IDF): top-5 tokens per source by
    // in-class rate × inverse class frequency — the topic-labeling
    // report over the corpus's own clustering dimension
    "q135_class_terms" -> ((s, dir) => {
      TextAnalysis.classTerms(t(s, dir, "documents"), "source",
          "text", k = 5)
        .select(col("source"), col("rnk"), col("token"),
          round(col("score"), 6).as("score"))
        .orderBy(col("source"), col("rnk"))
    }),

    // Link extraction: URLs injected on %3 ids are pulled back out with
    // regexp_extract_all and aggregated per domain — the link-graph
    // builder feeding PageRank-style authority scoring (q113)
    "q136_link_extract" -> ((s, dir) => {
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit(" see http://site"), col("doc_id") % 7,
              lit(".example.com/p"), col("doc_id") % 11))
          .otherwise(lit(""))).as("text"))
      injected.select(col("doc_id"),
          explode(regexp_extract_all(col("text"),
            lit("http://([a-z0-9.]+)"), lit(1))).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    }),

    // Burst collapse (debounce): keep the first event of every
    // gap-delimited same-(user,type) burst — one window pass, the
    // q10 session-start predicate as a dedup decision
    "q137_debounce" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("tsu"))
      Sessionize.burstCollapse(ev, Seq("user_id", "event_type"),
          "tsu", "event_id", gap = 86400L * 1000000L)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    // TF-IDF sparse-cosine near-dup: rare shared terms dominate, so
    // templated docs separate by their distinctive content — the
    // IR-weighted middle ground between Jaccard and embedding cosine
    "q140_tfidf_neardup" -> ((s, dir) => {
      NearDup.tfidfCosinePairs(t(s, dir, "documents"), "doc_id",
          "text", "source", minSim = 0.5, maxDf = 400)
        .orderBy(col("a"), col("b"))
    }),

    // BM25 lexical retrieval: score the corpus against a literal query
    // and keep the top 20 — the search baseline next to the ANN index
    "q141_bm25_search" -> ((s, dir) => {
      TextAnalysis.bm25(t(s, dir, "documents"), "doc_id", "text",
          query = "stream window join", k = 20)
        .orderBy(col("doc_id"))
    }),

    // q124 at edit distance 2: SymSpell ≤2-deletion keys turn the
    // within-block quadratic loop into an inverted-index equi-join;
    // typos delete characters 3 AND 6, and digit-run name collisions
    // contribute genuine substitution-distance-2 pairs
    "q142_editdist2" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val typos = cust.where(col("c_custkey") % 17 === 0)
        .select((col("c_custkey") + 2000000L).as("c_custkey"),
          concat(substring(col("c_name"), 1, 2),
            substring(col("c_name"), 4, 2),
            expr("substring(c_name, 7)")).as("c_name"),
          col("c_nationkey"))
      NearDup.editDistancePairs(cust.unionByName(typos), "c_custkey",
          "c_name", "c_nationkey", 2)
        .orderBy(col("a"), col("b"))
    }),

    // PageRank in stochastic-matrix form: edges directed small→large
    // partkey leave 138 genuine sinks (sf0.01) whose mass redistributes
    // uniformly each round — Σ pr = 1 exactly, unlike q113's
    // pseudo-PageRank where sink mass leaks
    "q143_pagerank_sinks" -> ((s, dir) => {
      val edges = adjacentLineEdges(s, dir)
        .where(col("src") < col("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 3,
          redistributeSinks = true)
        .select(col("id"), round(col("pr"), 9).as("pr"))
        .orderBy(col("id"))
    }),

    // PMI bigram collocations: adjacent-pair association scores over
    // the corpus (phrase mining / tokenizer-vocab extension) — two
    // map-side-combined count aggs + broadcast one-row totals
    "q144_pmi_collocations" -> ((s, dir) => {
      TextAnalysis.pmiBigrams(t(s, dir, "documents"), "text",
          minCount = 30L)
        .orderBy(col("w1"), col("w2"))
    }),

    // Deterministic synchronous label propagation (2 rounds, min-label
    // tie-break) over q113's co-order part graph treated undirected —
    // the community-detection sibling of Components/PageRank
    "q145_label_prop" -> ((s, dir) => {
      val edges = adjacentLineEdges(s, dir)
        .where(col("src") =!= col("dst"))
      Graph.labelPropagation(edges, "src", "dst", iterations = 2)
        .orderBy(col("id"))
    }),

    // SCD-2 dimension build: each customer's order-priority change log
    // compresses to validity intervals (valid_to NULL = current) —
    // one exchange + one sort for both windows, pinned
    "q146_scd2_intervals" -> ((s, dir) => {
      Snapshot.intervalize(
          t(s, dir, "orders").select(
            col("o_custkey").as("custkey"),
            col("o_orderpriority").as("priority"),
            col("o_orderdate").as("ts"),
            col("o_orderkey").as("ok")),
          Seq("custkey"), "ts", "ok", Seq("priority"))
        // o_orderdate arrives TIMESTAMP_NTZ; the session is pinned UTC,
        // so NTZ→LTZ→long is the same epoch DuckDB's epoch_ns computes
        .select(col("custkey"), col("priority"),
          col("valid_from").cast("timestamp").cast("long")
            .as("valid_from_s"),
          col("valid_to").cast("timestamp").cast("long")
            .as("valid_to_s"))
        .orderBy(col("custkey"), col("valid_from_s"), col("priority"))
    }),

    // Per-node triangle counts over the undirected co-order graph,
    // computed degree-oriented (out-neighborhoods bounded O(√E));
    // the oracle states the orientation-free a<b<c 3-way join
    "q147_triangles" -> ((s, dir) => {
      val edges = adjacentLineEdges(s, dir)
        .where(col("src") =!= col("dst"))
      Graph.triangleCount(edges, "src", "dst")
        .orderBy(col("id"))
    }),

    // Hourly OHLC bars over the event stream — first/last per bucket
    // as ordered-argmin AGGREGATES (min_by/max_by), never a window
    "q148_ohlc_bars" -> ((s, dir) => {
      Stats.ohlcBars(
          t(s, dir, "events").withColumn("sec", eventEpochSeconds("ts")),
          "sec", "event_id", "value", widthSec = 3600L)
        .orderBy(col("bar_id"))
    }),

    // Mergeable HLL distinct sketches: per-event-type user cardinality
    // plus a __all__ row from sketch UNION (no re-scan on the sketch
    // side — PlanSpec pins the operator's Expand-free shape). The
    // oracle hashes the exact twin (one single-column distinct per
    // stratum — no Expand) plus est_ok = |sketch − exact| ≤ 5%·exact,
    // the bound ProfileSpec asserts; a drifting sketch flips the
    // boolean and reds the row.
    "q149_hll_mergeable" -> ((s, dir) => {
      val est = Profile.mergeableDistinct(t(s, dir, "events"),
          "event_type", "user_id")
      val ev = t(s, dir, "events")
      val exact = ev.groupBy(col("event_type").cast("string")
            .as("stratum"))
          .agg(countDistinct(col("user_id")).as("n_distinct"))
        .unionByName(ev.agg(countDistinct(col("user_id"))
            .as("n_distinct"))
          .select(lit("__all__").as("stratum"), col("n_distinct")))
      exact.join(broadcast(est), Seq("stratum"))
        .select(col("stratum"), col("n_distinct"),
          (abs(col("n_distinct_est") - col("n_distinct")) <=
            col("n_distinct") * 0.05).as("est_ok"))
        .orderBy(col("stratum"))
    }),

    // q149's exact-parity twin: same strata + __all__ surface with exact
    // countDistinct, hash-checked by the driver — so the sketch query's
    // SHAPE is oracle-proven even though its estimates are rows-only
    // (the ≤5% error bound lives in ProfileSpec against this same data)
    "q156_mergeable_exact" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(col("event_type").cast("string").as("stratum"))
        .agg(countDistinct(col("user_id")).as("n_distinct"))
        .unionByName(ev.agg(countDistinct(col("user_id")).as("n_distinct"))
          .select(lit("__all__").as("stratum"), col("n_distinct")))
        .orderBy(col("stratum"))
    }),

    // Exact heavy hitters over the token stream: per-partition
    // Misra–Gries summaries (≤ k items each cross the wire) + an exact
    // recount of candidates only — output identical to the full
    // group-by, shuffle bounded by k·partitions instead of the token
    // universe (Frequent.scala)
    "q157_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
      Frequent.heavyHitters(toks, "token", 200)
        .orderBy(col("item"))
    }),

    // Sorted-neighborhood near-dup: simhash-ordered corpus, each doc
    // compared with its next 7 neighbors — a FIXED (w−1)·N comparison
    // budget immune to bucket skew (the band-blocking complement);
    // global order via range-sort + zipWithIndex, pairing via an
    // exploded-offset equi-join, never a corpus window function
    "q158_sorted_neighborhood" -> ((s, dir) => {
      NearDup.sortedNeighborhoodPairs(t(s, dir, "documents"), "doc_id",
          "text", window = 8, maxHamming = 8)
        .orderBy(col("a"), col("b"))
    }),

    // Recency-decayed engagement score per user: Σ value·2^−⌊age/7d⌋
    // anchored at the newest event — half-life staircase (integer age
    // bucket + exact power-of-two scaling) so every engine computes
    // bit-identical terms, unlike exp()'s libm-dependent ulps
    "q159_decayed_score" -> ((s, dir) => {
      Stats.decayedSum(
          t(s, dir, "events").select(col("user_id"),
            eventEpochSeconds("ts").as("t"), col("value")),
          Seq("user_id"), "t", "value", halfLifeSec = 86400L * 7)
        .orderBy(col("user_id"))
    }),

    // Multi-touch linear attribution: every click within 24 h before a
    // purchase shares its value equally — q134's last-touch sibling;
    // user-keyed equi-join + conversion-sized window count, credits
    // aggregate map-side
    "q160_multitouch" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("tsu"), col("event_type"), col("value"))
      Funnel.multiTouchLinear(
          e.where(col("event_type") === "purchase")
            .select(col("user_id"), col("tsu").as("pt"),
              col("event_id").as("purchase_id"), col("value")),
          e.where(col("event_type") === "click")
            .select(col("user_id"), col("tsu").as("ct"),
              col("event_id").as("click_id")),
          Seq("user_id"), "pt", "purchase_id", "value", "ct", "click_id",
          window = 86400L * 1000000L)
        .orderBy(col("click_id"))
    }),

    // Trailing-hour moving average per user: a RANGE frame over event
    // time (gaps and bursts weight by elapsed time, ties see the full
    // peer set — deterministic, unlike a ROWS frame)
    "q161_moving_avg" -> ((s, dir) => {
      Stats.movingTimeAvg(
          t(s, dir, "events").select(col("event_id"), col("user_id"),
            eventEpochSeconds("ts").as("t"), col("value")),
          Seq("user_id"), "t", "value", windowSec = 3600L)
        .select(col("event_id"), col("moving_avg"), col("n_in_window"))
        .orderBy(col("event_id"))
    }),

    // Point-in-time enrichment: each lineitem gets the customer
    // priority VALID AT ITS SHIP DATE from the q146 SCD2 dimension —
    // the leak-free historical join (today's dimension on yesterday's
    // facts trains on the future). Contiguous intervals reduce the
    // containment to a backward as-of join on valid_from; zero-length
    // versions (same-day supersessions) are dropped first so the
    // lookup is deterministic
    "q162_point_in_time" -> ((s, dir) => {
      val scd = Snapshot.intervalize(
          t(s, dir, "orders").select(
            col("o_custkey").as("custkey"),
            col("o_orderpriority").as("priority"),
            col("o_orderdate").cast("timestamp").cast("long").as("ts"),
            col("o_orderkey").as("ok")),
          Seq("custkey"), "ts", "ok", Seq("priority"))
        .where(col("valid_to").isNull ||
          col("valid_to") > col("valid_from"))
      val probes = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey").as("custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("custkey"),
          col("l_shipdate").cast("timestamp").cast("long").as("pts"))
      Snapshot.pointInTime(scd, probes, Seq("custkey"), "pts",
          Seq("priority"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("priority").as("priority_at_ship"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Multi-source BFS over the part-adjacency graph: min hop distance
    // from the seed set within 4 rounds — delta-frontier expansion
    // (only last round's fresh nodes join the edge table), eager
    // checkpoint per round (Graph.bfsDistances)
    "q163_bfs_hops" -> ((s, dir) => {
      val edges = adjacentLineEdges(s, dir)
        .where(col("src") =!= col("dst"))
      val seeds = t(s, dir, "part")
        .where(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("id"))
      Graph.bfsDistances(edges, "src", "dst", seeds, "id", maxHops = 4)
        .orderBy(col("id"))
    }),

    // First-order Markov transition matrix over per-user event
    // sequences: (state → next state) counts + row-normalized
    // probabilities; successor from ONE lead() window, the |states|²
    // normalization runs over the tiny transition table
    "q164_transitions" -> ((s, dir) => {
      Stats.transitionMatrix(
          t(s, dir, "events").select(col("user_id"), col("ts"),
            col("event_id"), col("event_type")),
          Seq("user_id"), "ts", "event_id", "event_type")
        .orderBy(col("from_state"), col("to_state"))
    }),

    // Regular hourly grid per user with LOCF fill: events aggregate to
    // one row per (user, hour) via ordered-argmax (max_by), the grid
    // explodes from a one-row-per-user span, the carry-forward window
    // runs over the GRID — never a window over raw events
    "q165_gap_fill" -> ((s, dir) => {
      Stats.gapFillLocf(
          t(s, dir, "events").select(col("user_id"),
            eventEpochSeconds("ts").as("t"), col("event_id"),
            col("value")),
          Seq("user_id"), "t", "value", "event_id", stepSec = 3600L)
        .orderBy(col("user_id"), col("bucket"))
    }),

    // Pareto coverage: the smallest customer prefix (by revenue desc)
    // covering ≥ 4/5 of total revenue — rational-share boundary test in
    // exact DECIMAL, two-level prefix sum (range partitions + ≤32-row
    // offset window), never a global single-partition window
    "q166_pareto_cover" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
               (lit(1).cast("decimal(18,4)") -
                col("l_discount").cast("decimal(18,4)"))).as("rev"))
      Stats.paretoCover(rev, "custkey", "rev", shareNum = 4, shareDen = 5)
        .select(col("custkey"),
          round(col("rev"), 2).cast("double").as("revenue"))
        .orderBy(col("custkey"))
    }),

    // Exact integer proration: each order's total (cents) split across
    // its lines by quantity with largest-remainder rounding — Σ alloc
    // per order equals the total EXACTLY, all 64-bit integer arithmetic
    // (Allocate.largestRemainder)
    "q167_proration" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice")), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity")).cast("long").as("w"),
          round(col("o_totalprice") * 100).cast("long").as("total"))
      Allocate.largestRemainder(l, Seq("l_orderkey"), "w", "total",
          Seq("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("alloc").as("alloc_cents"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Typo-model record linkage: pairs within unrestricted
    // DAMERAU-LEVENSHTEIN distance 1 (adjacent transposition costs 1 —
    // the q142 levenshtein path scores it 2 and misses these pairs at
    // maxDist=1); symdelete candidate generation + the native codegen
    // DL kernel (functions/DamerauExpression.scala) over candidates
    "q168_typo_pairs" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val typos = cust.where(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 3000000L).as("c_custkey"),
          concat(substring(col("c_name"), 1, 16),
            substring(col("c_name"), 18, 1),
            substring(col("c_name"), 17, 1)).as("c_name"),
          col("c_nationkey"))
      NearDup.typoPairs(cust.unionByName(typos), "c_custkey", "c_name",
          "c_nationkey", maxDist = 1)
        .orderBy(col("a"), col("b"))
    }),

    // Per-segment OLS trend over daily value sums: exact-DECIMAL sums
    // cast to double ONCE, then a fixed-shape closed form — never a
    // float sum (order-dependent across engines/partitionings). x is
    // centered to a small day index so x·y stays inside DECIMAL range
    "q169_trend_slope" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          (expr("unix_micros(ts) DIV 1000000 DIV 86400") - 19700L)
            .cast("int").as("day"))
        .agg(sum(col("value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("y"))
      Stats.groupTrend(daily, Seq("event_type"), "day", "y")
        .orderBy(col("event_type"))
    }),

    // RFM segmentation: per-customer recency/frequency/monetary
    // quintile codes — boundaries from ONE exact-percentile pass per
    // metric, broadcast to a scan-stage when-chain (Stats.quantileBin);
    // ties sit in the lower bin so the coding is engine-exact
    "q170_rfm" -> ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_orderdate").cast("timestamp").cast("long"))
            .as("rec"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("mon"))
      val binned = Seq(("rec", "r_bin"), ("freq", "f_bin"),
          ("mon", "m_bin"))
        .foldLeft(m) { case (d, (v, b)) =>
          Stats.quantileBin(d, v, Seq(0.2, 0.4, 0.6, 0.8), b) }
      binned.select(col("custkey"), col("r_bin"), col("f_bin"),
          col("m_bin"),
          (col("r_bin") * 100 + col("f_bin") * 10 + col("m_bin"))
            .as("segment"))
        .orderBy(col("custkey"))
    }),

    // Inter-event gap distribution: per-user lead() gap in seconds,
    // bucketed by INTEGER threshold comparisons (no log() — libm-free
    // exponential bins), counted map-side
    "q171_gap_histogram" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts)").as("tu"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tu"), col("event_id"))
      val gaps = e.withColumn("_nxt", lead(col("tu"), 1).over(w))
        .where(col("_nxt").isNotNull)
        .withColumn("gap_s", expr("(_nxt - tu) DIV 1000000"))
      gaps.withColumn("gap_bin",
          when(col("gap_s") < 60, "a_lt_1m")
            .when(col("gap_s") < 600, "b_1m_10m")
            .when(col("gap_s") < 3600, "c_10m_1h")
            .when(col("gap_s") < 86400, "d_1h_1d")
            .otherwise("e_ge_1d"))
        .groupBy(col("gap_bin")).agg(count(lit(1)).as("n_gaps"))
        .orderBy(col("gap_bin"))
    }),

    // Streaming twin of q159's decay staircase with a FIXED anchor:
    // the per-event weight is stateless (anchor is a literal), so the
    // per-user sum is a commutative aggregate — exact under ANY
    // micro-batch arrival order, state = one row per user. The
    // data-derived-anchor form stays batch (q159); a stream can't know
    // max(ts) before it ends
    "q172_stream_decayed" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
      val agg = stream
        .select(col("user_id"),
          expr("value / shiftleft(1L, cast(least(" +
            "(1706745600 - unix_micros(ts) DIV 1000000) DIV 604800," +
            " 62L) as int))").as("_dv"))
        .groupBy(col("user_id"))
        .agg(round(sum(col("_dv")), 6).as("decayed_value"),
          count(lit(1)).as("n_events"))
      graft.streaming.Streams.drainToMemory(agg, "graft_q172_decay")
        .orderBy(col("user_id"))
    }),

    // Lower weighted median: each lineitem votes with its quantity —
    // per-(flag, price) weights aggregate map-side, the cumulative
    // window runs over distinct prices, the winner is a conditional-min
    // aggregate; `2·cumW ≥ W` needs no division, so it is integer-exact
    "q173_weighted_median" -> ((s, dir) => {
      Stats.weightedMedian(
          t(s, dir, "lineitem").select(col("l_returnflag"),
            col("l_extendedprice"),
            round(col("l_quantity")).cast("long").as("w")),
          Seq("l_returnflag"), "l_extendedprice", "w")
        .orderBy(col("l_returnflag"))
    }),

    // Incremental aggregate maintenance: pre-1999 base states merge
    // with the 1999+ delta batch through ONE full-outer join — no
    // rescan of base — and the result must equal the full recompute,
    // which is exactly what the oracle states
    "q174_agg_merge" -> ((s, dir) => {
      def aggOf(d: DataFrame) = d
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("total"),
          min(col("o_orderdate")).as("first_date"),
          max(col("o_orderdate")).as("last_date"))
      val o = t(s, dir, "orders")
      val cut = "1999-01-01"
      val merged = Stats.mergeAggStates(
        aggOf(o.where(col("o_orderdate") < lit(cut))),
        aggOf(o.where(col("o_orderdate") >= lit(cut))),
        Seq("custkey"), "n_orders", "total", "first_date", "last_date")
      merged.select(col("custkey"), col("n_orders"),
          round(col("total"), 2).cast("double").as("total"),
          col("first_date"), col("last_date"))
        .orderBy(col("custkey"))
    }),

    // One-sided CUSUM drift alerts per user: the sequential
    // max(0, S+dev) recursion distributed as prefix-sum minus running
    // low-water-mark (two stacked windows, DECIMAL-exact) — no loop,
    // no UDF, no mapPartitions
    "q175_cusum" -> ((s, dir) => {
      Stats.cusumAlerts(
          t(s, dir, "events").select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("tu"), col("value")),
          Seq("user_id"), "tu", "event_id", "value",
          target = 60.0, threshold = 500.0)
        .select(col("event_id"), col("user_id"),
          round(col("cusum"), 4).cast("double").as("cusum"))
        .orderBy(col("event_id"))
    }),

    // Streaming twin of the bounded top-k aggregate: TopKAgg's k-row
    // state is a commutative monoid (bounded insert/merge), so the
    // per-type top-3 is EXACT under any micro-batch arrival order —
    // complete-mode output, state = k rows per key, never the history
    // STREAMING LEFT-OUTER interval join: unmatched left rows emit
    // with NULL right columns once the watermark PROVES no match can
    // arrive — state-expiry-driven null emission, the semantics an
    // inner join (q78) never exercises. Two far-future sentinel rows
    // (one per side's filter parity) push the final watermark past
    // every real row + band so the drain surfaces ALL unmatched rows;
    // sentinels are filtered from the result
    "q205_stream_left_join" -> ((s, dir) => {
      val stage = scratch(s, "q205_src")
      val ev = t(s, dir, "events")
      // one far-future sentinel per filter parity pushes BOTH sides'
      // watermarks (multipleWatermarkPolicy=min) past every real row +
      // band; AvailableNow then runs the extra empty batches in which
      // the advanced watermark actually EVICTS — that is where the
      // unmatched-left nulls are emitted. CRITICAL: the sentinel
      // filter must NOT live inside the streaming plan — Catalyst
      // pushes a post-join predicate below the watermark operator,
      // which silently drops the sentinels before they can advance it
      // (observed: the latest left row never flushed); the filter is
      // applied on the SINK TABLE instead.
      val sentinels = s.range(2).select(
        (col("id") - 2).as("event_id"), // -2 even side, -1 odd side
        expr("timestamp_micros(1893456000000000L)").as("ts"), // 2030
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
      ev.unionByName(sentinels).write.mode("overwrite").parquet(stage)
      val staged = s.read.parquet(stage).schema
      // DRAIN PATH: the staged re-read is a batch-shaped drain, not a
      // live feed — at the default maxFilesPerTrigger=4 the ~32 staged
      // part files × 2 sources cost ~8 micro-batches of fixed
      // state-store machinery each (13 s at sf0.1 for a sub-second
      // join). One data batch + the AvailableNow empty batch (where
      // the sentinel-advanced watermark evicts and emits the
      // unmatched-left nulls) exercises the same semantics; q78 keeps
      // the multi-batch default as the incremental-arrival test.
      def src() = GraftSession.normalizeEventTime(
        graft.streaming.Streams.fileSource(s, stage, staged,
          maxFilesPerTrigger = 10000))
      val a = src().where(pmod(col("event_id"), lit(2)) === 0)
        .select(col("user_id"), col("event_id").as("a_id"),
          eventTimestamp("ts").as("a_ts"))
      val b = src().where(pmod(col("event_id"), lit(2)) === 1)
        .select(col("user_id"), col("event_id").as("b_id"),
          eventTimestamp("ts").as("b_ts"))
      val joined = graft.streaming.Streams.intervalJoin(a, b,
          Seq("user_id"), "a_ts", "b_ts", "10 minutes", "1 minute",
          joinType = "left_outer")
        .select(col("user_id"), col("a_id"), col("b_id"))
      graft.streaming.Streams
        .drainToMemory(joined, "graft_q205_left_join", "append")
        .where(col("user_id") >= 0)
        .orderBy(col("user_id"), col("a_id"), col("b_id"))
    }),

    // File-skipping effectiveness of the z-order layout: probe the
    // q190 envelopes with a 64-point filter workload on EACH dimension
    // and count candidate files per probe — the metric that tells a
    // layout owner whether min/max skipping will actually prune at
    // 100 TB. Filter-probe coverage is a scan-stage sequence explode over
    // the (tiny) envelope table, never an inequality join; the file
    // total is a one-row broadcast
    // Kaplan–Meier survival per cohort: time from first to last
    // activity, right-censored for users still active near the corpus
    // horizon — the churn curve (operators/Survival.kaplanMeier). The
    // product-limit estimate accumulates over a SORTED growing window
    // so both engines add identical doubles in the same order
    "q226_kaplan_meier" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val per = ev.groupBy(col("user_id"))
        .agg(min(expr("unix_micros(ts)")).as("first_us"),
          max(expr("unix_micros(ts)")).as("last_us"))
      val hor = ev.agg(max(expr("unix_micros(ts)")).as("hor_us"))
      val subj = per.crossJoin(broadcast(hor))
        .select(pmod(col("user_id"), lit(4)).cast("int").as("cohort"),
          expr("(last_us - first_us) DIV 86400000000").as("dur_days"),
          (col("last_us") < col("hor_us") - lit(6L * 3600000000L))
            .as("churned"))
      Survival.kaplanMeier(subj, Seq("cohort"), "dur_days", "churned")
        .orderBy(col("cohort"), col("dur_days"))
    }),

    // Categorical dependence screen in one pass over observed cells:
    // mutual information + chi² + Cramér's V between event type and
    // weekday (integer epoch-day % 7 — engine-independent, unlike
    // dayofweek()). Zero cells never materialize: chi² = N + Σ_obs
    // ((O−E)²/E − E) since Σ_allcells E = N
    "q227_contingency" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        col("event_type").as("x"),
        expr("(unix_micros(ts) DIV 86400000000) % 7").as("y"))
      Stats.contingencyStats(e, "x", "y")
    }),

    // Per-key quantile estimates from a DETERMINISTIC bounded
    // subsample: the k=256 rows with the smallest md5-order hash per
    // event type (functions/ReservoirAgg — k-bounded map-side state,
    // where exactPercentiles shuffles distinct values). Replayable:
    // the oracle states the same "k smallest hashes" subsample
    "q228_reservoir_quantiles" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        call_function("graft_md5_long60", concat(lit("rq:"),
          col("event_id").cast("string")), lit(1)).as("h"),
        col("value").cast("double").as("v"))
      Stats.reservoirQuantiles(ev, Seq("event_type"), "h", "v",
          Seq(("p25", 0.25), ("p50", 0.50), ("p90", 0.90)), k = 256)
        .select(col("event_type"), col("n_sample"),
          round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
          round(col("p90"), 6).as("p90"))
        .orderBy(col("event_type"))
    }),

    // Unicode-script composition per doc (TextAnalysis.scriptMix):
    // codepoint counts per script + dominant script — the script-level
    // screen before any n-gram langid. Cyrillic/Han fragments are
    // injected deterministically (the q117 protocol: the synthetic
    // corpus is ASCII; the oracle replays the same injection)
    "q229_script_mix" -> ((s, dir) => {
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0, lit("привет мир "))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("你好世界 "))
            .otherwise(lit("")),
          coalesce(col("text"), lit(""))).as("text"))
      TextAnalysis.scriptMix(injected, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Time-weighted average over stepwise validity intervals
    // (Survival.timeWeightedAvg): each event's value holds until the
    // user's next event; the mean weights each value by how long it
    // held — the correct aggregate over SCD2-style state tables, where
    // a row-count average over-weights short-lived values
    "q230_time_weighted_avg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("start_us"), col("event_id"))
      val iv = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("start_us"),
          col("event_id"), col("value"))
        .withColumn("end_us", lead(col("start_us"), 1).over(w))
        .where(col("end_us").isNotNull)
      Survival.timeWeightedAvg(iv.where(pmod(col("user_id"), lit(10)) === 3),
          Seq("user_id"), "start_us", "end_us", "value")
        .orderBy(col("user_id"))
    }),

    // WEIGHTED PageRank over the co-purchase support graph
    // (Graph.pageRankWeighted): rank splits over out-edges by edge
    // weight (pr·w/wout) — the unweighted walk flattens exactly the
    // signal the support counts encode. Fixed 3 rounds; oracle unrolls
    // them; round(9) absorbs double-sum association noise (q113)
    "q231_weighted_pagerank" -> ((s, dir) => {
      val sup = inOrderPartPairs(s, dir)
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 2)
      val edges = sup.select(col("u").as("src"), col("v").as("dst"),
          col("support"))
        .unionByName(sup.select(col("v").as("src"), col("u").as("dst"),
          col("support")))
      Graph.pageRankWeighted(edges, "src", "dst", "support",
          iterations = 3)
        .select(col("id"), round(col("pr"), 9).as("pr"))
        .orderBy(col("id"))
    }),

    // Interval-OVERLAP join on RangeJoin.bucketedOverlapJoin (both
    // sides explode into width-20000 buckets; the join credits only the
    // bucket holding max(a_lo, b_lo), so each overlapping pair matches
    // exactly once). The registry name is historical: it once ran
    // through an optimizer rule. Price bands of two order samples:
    // overlap ⇔ totals within 10000 cents
    "q232_overlap_rule_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      val a = o.where(col("o_orderkey") % 75 === 0)
        .select(col("o_orderkey").as("a_id"),
          (col("cents") - 5000L).as("a_lo"),
          (col("cents") + 5000L).as("a_hi"))
      val b = o.where(col("o_orderkey") % 90 === 0)
        .select(col("o_orderkey").as("b_id"),
          (col("cents") - 5000L).as("b_lo"),
          (col("cents") + 5000L).as("b_hi"))
      RangeJoin.bucketedOverlapJoin(a, b, Seq.empty,
          "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 20000L)
        .where(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Rank-Biased Overlap (Webber et al. 2010) between the revenue
    // and quantity top-50 part rankings: Σ_d p^{d-1}·|I_d|/d scaled by
    // (1−p), computed per-ITEM (each item contributes to every depth
    // ≥ max of its two ranks) over a 50-row broadcast depth spine —
    // never a depth×depth loop. Exact DECIMAL sums fix both rankings;
    // the geometric weights are fixed-shape doubles
    "q233_rbo" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val k = 50
      def top(valCol: Column, rName: String) = {
        val per = li.groupBy(col("l_partkey")).agg(valCol.as("_v"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("_v").desc, col("l_partkey"))
        per.orderBy(col("_v").desc, col("l_partkey")).limit(k)
          .withColumn(rName, row_number().over(w))
          .select(col("l_partkey"), col(rName))
      }
      val ra = top(moneySum(col("l_extendedprice")), "ra")
      val rb = top(sum(col("l_quantity").cast("decimal(18,2)")), "rb")
      val items = ra.join(rb, "l_partkey")
        .select(greatest(col("ra"), col("rb")).as("m"))
      val depths = s.range(1, k + 1).select(col("id").as("d"),
        (pow(lit(0.9), col("id").cast("double") - 1) /
          col("id").cast("double")).as("wd"))
      items.join(broadcast(depths), col("m") <= col("d"))
        .agg(count(lit(1)).as("pairs_depths"),
          round(lit(0.1) * sum(col("wd")), 6).as("rbo"))
    }),

    // STREAMING reservoir quantiles: ReservoirAgg's k-smallest-hash
    // state is a commutative monoid, so the complete-mode streaming
    // aggregate is EXACT under any micro-batch arrival order (the
    // q187 bounded-state protocol) — per-key state is k pairs, not
    // history. Batch presentation indexes the drained sample
    "q234_stream_reservoir" -> ((s, dir) => {
      val ra = udaf(graft.functions.ReservoirAgg(256))
      val agg = eventsStream(s, dir)
        .select(col("event_type"),
          call_function("graft_md5_long60", concat(lit("rq:"),
            col("event_id").cast("string")), lit(1)).as("h"),
          col("value").cast("double").as("v"))
        .groupBy(col("event_type"))
        .agg(ra(col("h"), col("v")).as("smp"))
      val m = size(col("smp"))
      def at(p: Double) = round(element_at(col("smp"),
        greatest(lit(1), ceil(lit(p) * m).cast("int"))), 6)
      graft.streaming.Streams
        .drainToMemory(agg, "graft_q234_reservoir", "complete")
        .select(col("event_type"), m.cast("long").as("n_sample"),
          at(0.25).as("p25"), at(0.50).as("p50"), at(0.90).as("p90"))
        .orderBy(col("event_type"))
    }),

    // Poisson-bootstrap confidence interval for the mean purchase
    // value: each of 50 replicates weights every row by a
    // DETERMINISTIC Poisson(1) draw (inverse CDF over an md5 uniform —
    // replayable, unlike rand()), replicate means are exact
    // DECIMAL-sum ratios, and the CI reads positional quantiles of
    // the 50 means. The replicate spine is a 50-row broadcast
    "q235_bootstrap_ci" -> ((s, dir) => {
      val base = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("value").cast("decimal(18,4)")
          .as("v"))
      val reps = s.range(0, 50).select(col("id").as("r"))
      val u = call_function("graft_md5_long60", concat(lit("bs:"),
        col("r").cast("string"), lit(":"),
        col("event_id").cast("string")), lit(1))
        .cast("double") / lit(1.152921504606846976e18)
      // Poisson(1) inverse CDF: cumulative e^{-1}·Σ 1/i! literals —
      // identical constants in the oracle
      val w = when(u < 0.3678794411714423, 0L)
        .when(u < 0.7357588823428846, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238462, 3L)
        .when(u < 0.9963401531726563, 4L)
        .when(u < 0.9994058151824183, 5L)
        .otherwise(6L)
      val repMeans = base.crossJoin(broadcast(reps))
        .select(col("r"), col("v"), w.as("w"))
        .groupBy(col("r"))
        .agg((sum(col("v") * col("w")).cast("double") /
          sum(col("w")).cast("double")).as("_mean"))
      val wRank = org.apache.spark.sql.expressions.Window
        .orderBy(col("_mean"))
      repMeans
        .withColumn("_rn", row_number().over(wRank))
        .agg(count(lit(1)).as("n_replicates"),
          round(max(when(col("_rn") === 2, col("_mean"))), 6)
            .as("ci_lo"),
          round(max(when(col("_rn") === 49, col("_mean"))), 6)
            .as("ci_hi"))
    }),

    // Concurrent-activity curve by SWEEP LINE (Stats.sweepConcurrency):
    // per-(user, day) activity spans become ±1 deltas; one aggregate +
    // one prefix sum over DISTINCT minutes replaces any interval-
    // stabbing join. Emits change points only
    "q236_concurrency" -> ((s, dir) => {
      val iv = t(s, dir, "events")
        .groupBy(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(min(expr("unix_micros(ts) DIV 60000000")).as("s"),
          max(expr("unix_micros(ts) DIV 60000000")).as("e"))
      Stats.sweepConcurrency(iv, "s", "e").orderBy(col("t"))
    }),

    // Theil–Sen robust trend per event type over the DAILY revenue
    // rollup (Stats.theilSenSlope): median of pairwise slopes — one
    // bad day drags OLS (q169) arbitrarily far, this needs 29%
    // corruption. Quadratic only in DAYS (calendar-bounded), never
    // events
    "q237_theilsen" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(moneySum(col("value")).as("rev"))
      Stats.theilSenSlope(daily, Seq("event_type"), "day", "rev")
        .orderBy(col("event_type"))
    }),

    // 5% trimmed mean per event type (Stats.trimmedMean): positional
    // trimming with an id tiebreak — integer-exact until one division;
    // discards tails where winsorize (q154) clamps them
    "q238_trimmed_mean" -> ((s, dir) => {
      Stats.trimmedMean(t(s, dir, "events"), Seq("event_type"),
          "value", "event_id", 0.05)
        .orderBy(col("event_type"))
    }),

    // Growth accounting (Funnel.growthAccounting): the daily-active
    // decomposition into new / returning (≤7-day gap) / resurrected —
    // one distinct + one per-user lag over day rows, never events
    "q239_growth_accounting" -> ((s, dir) => {
      val d = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      Funnel.growthAccounting(d, "user_id", "day", resurrectGapDays = 7)
        .select(col("day"), col("active"), col("new").as("n_new"),
          col("returning").as("n_returning"),
          col("resurrected").as("n_resurrected"))
        .orderBy(col("day"))
    }),

    // Prefix-compression estimate per source
    // (TextAnalysis.prefixCompressionStats + native graft_lcp): the
    // adjacent-row LCP sum in sorted order IS the bytes a prefix-
    // encoded layout saves — a template-ness score per source
    "q240_prefix_compression" -> ((s, dir) => {
      TextAnalysis.prefixCompressionStats(t(s, dir, "documents"),
          "source", "text")
        .orderBy(col("source"))
    }),

    // Vocabulary coverage / OOV rate per source against the global
    // top-1000 vocab (TextAnalysis.vocabCoverage): the screen run
    // before fixing a tokenizer's vocab size. Top-K is a TakeOrdered
    // with a token tie-break, broadcast back as a semi-join
    "q241_vocab_coverage" -> ((s, dir) => {
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "source",
          "text", topK = 1000)
        .orderBy(col("source"))
    }),

    // Pairwise Jensen–Shannon divergence between source token
    // distributions (TextAnalysis.jsDivergenceMatrix): symmetric,
    // ln2-bounded — the source-distance matrix KL (q122) can't give
    // (KL explodes on one-sided tokens)
    "q242_js_divergence" -> ((s, dir) => {
      TextAnalysis.jsDivergenceMatrix(t(s, dir, "documents"), "source",
          "text")
        .orderBy(col("ga"), col("gb"))
    }),

    // Embedding dispersion per label (Similarity.embeddingDispersion):
    // centroid norm + mean-squared-distance-to-centroid from ONE pass
    // of exact quantized aggregates via E‖v−c‖² = E‖v‖² − ‖c‖² — the
    // representation-collapse screen with no second pass over rows
    "q243_embedding_dispersion" -> ((s, dir) => {
      Similarity.embeddingDispersion(t(s, dir, "embeddings"),
          Seq("label"), "embedding", dim = 64)
        .orderBy(col("label"))
    }),

    // Exact two-sample Kolmogorov–Smirnov test between src0 and src1
    // length distributions (Stats.ksTest): D as max|cumA·nB − cumB·nA|
    // in pure integers, ONE division at the end — drift gating with
    // no binning choices
    "q244_ks_test" -> ((s, dir) => {
      Stats.ksTest(t(s, dir, "documents"), "n_chars", "source",
        "src0", "src1")
    }),

    // DAU/WAU stickiness per day: daily actives over trailing-7-day
    // actives — the q206 bounded ×7 offset-explode machinery for the
    // rolling distinct (never a RANGE-window distinct), one extra
    // daily distinct, one equi-join
    "q245_stickiness" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .distinct()
      val dau = ud.groupBy(col("day"))
        .agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("wday"))
        .distinct()
        .groupBy(col("wday")).agg(count(lit(1)).as("wau"))
      dau.join(wau, dau("day") === wau("wday"))
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau").cast("double"),
            6).as("stickiness"))
        .orderBy(col("day"))
    }),

    // Discrete power-law exponent MLE over the co-purchase degree
    // distribution: α = 1 + n / Σ ln(d/dmin) (Clauset et al. 2009,
    // continuous approximation at fixed dmin) — "is this graph
    // scale-free" in one degree aggregate + one scalar pass
    "q246_power_law_alpha" -> ((s, dir) => {
      val deg = inOrderPartPairs(s, dir)
        .distinct()
        .select(explode(array(col("u"), col("v"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
        .where(col("d") >= 2)
      deg.agg(count(lit(1)).as("n_nodes"),
        round(lit(1.0) + count(lit(1)).cast("double") /
          sum(log(col("d").cast("double") / lit(2.0))), 6).as("alpha"))
    }),

    // Post-stratified mean: reweight per-type purchase-value means to
    // the REFERENCE period's type mix (first 7 days) — the survey-
    // adjustment estimate that undoes composition drift. Strata means
    // and reference shares are exact ratios; the 5-term combination
    // is fixed-shape doubles
    "q247_post_stratified_mean" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day"),
          col("value").cast("decimal(18,4)").as("v"))
      val minDay = ev.agg(min(col("day")).as("d0"))
      val ref = ev.crossJoin(broadcast(minDay))
        .where(col("day") < col("d0") + 7)
        .groupBy(col("event_type")).agg(count(lit(1)).as("ref_n"))
      val strata = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      strata.join(ref, Seq("event_type"))
        .agg(
          round(sum((col("sv").cast("double") / col("n").cast("double"))
            * col("ref_n").cast("double")) /
            sum(col("ref_n")).cast("double"), 6)
            .as("post_stratified_mean"),
          round(sum(col("sv")).cast("double") /
            sum(col("n")).cast("double"), 6).as("raw_mean"))
    }),

    // STREAMING first-seen accounting: per-user min event time as a
    // complete-mode streaming aggregate (min is a commutative monoid —
    // exact under any micro-batch order; dropDuplicates would keep an
    // ARBITRARY in-batch occurrence, not the earliest), then new-users
    // per first-seen day as batch presentation over the drained state
    "q248_stream_new_users" -> ((s, dir) => {
      val agg = eventsStream(s, dir)
        .groupBy(col("user_id"))
        .agg(min(expr("unix_micros(ts)")).as("first_us"))
      graft.streaming.Streams.drainToMemory(agg, "graft_q248_newusers")
        .groupBy(expr("first_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("new_users"))
        .orderBy(col("day"))
    }),

    // Journey surprisal: per-user mean negative log-probability of its
    // event-type transition path under the corpus first-order Markov
    // model (q164's matrix) — "how atypical is this user's path".
    // Per-step −ln p quantizes to DECIMAL(28,9) before summing (the
    // chi² contribution protocol) so the per-user sum is exact
    "q249_path_surprisal" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val steps = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("a"))
        .withColumn("b", lead(col("a"), 1).over(w))
        .where(col("b").isNotNull)
        .select(col("user_id"), col("a"), col("b"))
      val trans = steps.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("c"))
      val rowTot = trans.groupBy(col("a")).agg(sum(col("c")).as("rt"))
      val p = trans.join(broadcast(rowTot), "a")
        .select(col("a"), col("b"),
          (col("c").cast("double") / col("rt").cast("double")).as("p"))
      steps.join(broadcast(p), Seq("a", "b"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_steps"),
          round(sum(round(-log(col("p")), 9).cast("decimal(28,9)"))
            .cast("double") / count(lit(1)).cast("double"), 6)
            .as("mean_surprisal"))
        .orderBy(col("user_id"))
    }),

    // The same query as q14 (one builder). The name is historical:
    // q250 ran the custom exec while q14 ran a union + LOCF form
    "q250_asof_exec" -> ((s, dir) => lastClickBeforePurchase(s, dir)),

    // Decile lift/gains table: users binned by click-value score
    // (quantileBin's interpolated global boundaries), conversion rate,
    // cumulative gain from the top decile down, and lift vs the base
    // rate — the model-eval report next to calibration (q216). All
    // windows run over the ≤10-row decile aggregate
    "q251_decile_lift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val users = t(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click",
            col("value").cast("decimal(18,4)"))
            .otherwise(lit(0).cast("decimal(18,4)")))
            .cast("double").as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      val binned = Stats.quantileBin(users, "score",
        (1 to 9).map(_ / 10.0), "decile")
      val per = binned.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("conv")).as("converters"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val wCum = Window.orderBy(col("decile").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rate = col("converters").cast("double") /
        col("n_users").cast("double")
      val baseRate = col("_tc").cast("double") / col("_tn").cast("double")
      per
        .withColumn("_tc", sum(col("converters")).over(wAll))
        .withColumn("_tn", sum(col("n_users")).over(wAll))
        .withColumn("_cum", sum(col("converters")).over(wCum))
        .select(col("decile"), col("n_users"), col("converters"),
          round(rate, 6).as("conv_rate"),
          round(col("_cum").cast("double") / col("_tc").cast("double"),
            6).as("cum_gain"),
          round(rate / baseRate, 6).as("lift"))
        .orderBy(col("decile").desc)
    }),

    // Seasonality strength per event type: one-way ANOVA η² of value
    // by hour-of-day — SSB/SST from exact DECIMAL sums (Σv, Σv², and
    // the 24 per-hour subtotals), doubles only in the final fixed-
    // shape identity SST = Σv² − (Σv)²/N. q210 flags anomalies; this
    // quantifies how much of the variance the daily cycle explains
    "q252_seasonal_strength" -> ((s, dir) => {
      val cell = t(s, dir, "events")
        .select(col("event_type"),
          expr("(unix_micros(ts) DIV 3600000000) % 24").as("hr"),
          col("value").cast("decimal(18,4)").as("v"))
        .groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("nh"), sum(col("v")).as("sh"),
          sum(col("v") * col("v")).as("sq"))
      val s2 = col("_s").cast("double") * col("_s").cast("double")
      cell.groupBy(col("event_type"))
        .agg(sum(col("nh")).as("n"), sum(col("sh")).as("_s"),
          sum(col("sq")).as("_sq"),
          sum(col("sh").cast("double") * col("sh").cast("double") /
            col("nh").cast("double")).as("_ssb_part"))
        .select(col("event_type"), col("n"),
          round((col("_ssb_part") - s2 / col("n").cast("double")) /
            (col("_sq").cast("double") - s2 / col("n").cast("double")),
            6).as("eta2"))
        .orderBy(col("event_type"))
    }),

    // Candidate-generator audit: precision/recall/F1 of the SimHash
    // band candidates (q60's generator, hamming ≤ 3) against the
    // exact same-source Jaccard ≥ 0.5 truth pairs (q62's capped
    // universe) — "is my cheap near-dup generator actually catching
    // the duplicates the exact measure finds?"
    "q253_candidate_eval" -> ((s, dir) => {
      // plant near-duplicates (q111's injected-corpus protocol): every
      // 5th doc gets a +1M-id copy with one appended token, so truth
      // and generator both have real positives to agree or miss on
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val docs = base.unionByName(base.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(coalesce(col("text"), lit("")), lit(" zz")).as("text"),
          col("source")))
      val pred = NearDup.simhashPairs(docs, "doc_id", "text")
        .select(col("a"), col("b")).withColumn("p", lit(1L))
      val truth = NearDup.jaccardPairs(docs, "doc_id", "text",
          "source", 3, 0.5, maxDf = 2)
        .select(col("a"), col("b")).withColumn("tr", lit(1L))
      val prec = col("tp").cast("double") / col("n_pred").cast("double")
      val rec = col("tp").cast("double") / col("n_truth").cast("double")
      pred.join(truth, Seq("a", "b"), "full")
        .agg(sum(col("p")).as("n_pred"), sum(col("tr")).as("n_truth"),
          sum(when(col("p").isNotNull && col("tr").isNotNull, 1L)
            .otherwise(0L)).as("tp"))
        .select(col("n_pred"), col("n_truth"), col("tp"),
          round(prec, 6).as("precision"), round(rec, 6).as("recall"),
          when(col("tp") > 0,
            round(lit(2.0) * prec * rec / (prec + rec), 6))
            .otherwise(lit(0.0)).as("f1"))
    }),

    // Hierarchical share-of-parent: nation revenue as a share of its
    // region, region as a share of the total — the drill-down ratio
    // every OLAP rollup report carries; windows run over the 25-row
    // nation aggregate, dims broadcast
    "q254_share_of_parent" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("rev")).as("nrev"))
      val wReg = Window.partitionBy(col("r_name"))
      val wAll = Window.partitionBy()
      rev
        .withColumn("_rrev", sum(col("nrev")).over(wReg))
        .withColumn("_trev", sum(col("nrev")).over(wAll))
        .select(col("r_name"), col("n_name"),
          round(col("nrev"), 2).cast("double").as("revenue"),
          round(col("nrev").cast("double") / col("_rrev").cast("double"),
            6).as("share_of_region"),
          round(col("_rrev").cast("double") / col("_trev").cast("double"),
            6).as("region_share"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Bounce rate per day: share of 30-min sessions with exactly one
    // event — rides the q10 sessionize machinery (one key exchange)
    // plus one day aggregate
    "q255_bounce_rate" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), eventEpochSeconds("ts").as("t"))
      Sessionize.sessionizeEvents(e, Seq("user_id"), "t", 1800L)
        .groupBy(expr("sess_start DIV 86400").as("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_rows") === 1, 1L).otherwise(0L))
            .as("bounces"))
        .withColumn("bounce_rate",
          round(col("bounces").cast("double") /
            col("n_sessions").cast("double"), 6))
        .orderBy(col("day"))
    }),

    // Duplicate-class size histogram: the corpus-dedup report row
    // ("how much mass sits in how-deep duplicate families") over the
    // q73 closure — histogram of connected-component sizes
    "q256_dup_size_histogram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (pairs, handle) = NearDup.jaccardPairsWithHandle(docs,
        "doc_id", "text", "source", 3, 0.01)
      val clusters = Components.duplicateClusters(docs, pairs, "doc_id")
      handle.release()
      clusters.groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // Language-ID confusion matrix: q19's n-gram classifier against
    // the labeled lang column — per (true, predicted) counts and the
    // per-true-language share. The eval row every classifier needs
    // before it gates a corpus
    "q257_lang_confusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pred = t(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.langIdNative(TextAnalysis.tokens(col("text")),
            langProfiles).as("pred_lang"))
      pred.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("lang")))
            .cast("double"), 6))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // Similarity-score histogram over the capped Jaccard candidate
    // pairs (q62's universe): pair counts per 0.1 similarity bucket —
    // the threshold-sensitivity curve read before picking a dedup cut
    "q258_similarity_histogram" -> ((s, dir) => {
      NearDup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          "source", 3, 0.01, maxDf = 2)
        .select(least(floor(col("jaccard") * 10), lit(9))
          .cast("int").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("bucket"))
    }),

    // Cumulative distinct users per day: the expanding-window distinct
    // equals the running sum of FIRST-SEENS — one per-user min, one
    // day aggregate, one prefix sum over the distinct-day table (the
    // trick that avoids an unsupported DISTINCT-over-expanding-window)
    "q259_cumulative_users" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val firstSeen = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(expr("unix_micros(ts) DIV 86400000000")).as("day"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      firstSeen.groupBy(col("day"))
        .agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .orderBy(col("day"))
    }),

    // Order-fill latency percentiles by priority: days from order date
    // to the LAST line shipment, through exactPercentiles (one rank
    // pass over distinct latency values per priority)
    "q260_fill_latency" -> ((s, dir) => {
      val lat = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("last_ship"))
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("last_ship"), col("o_orderdate"))
            .cast("double").as("lat"))
      Stats.exactPercentiles(lat, Seq("o_orderpriority"), "lat",
          Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)))
        .select(col("o_orderpriority"), round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"), round(col("p99"), 4).as("p99"))
        .orderBy(col("o_orderpriority"))
    }),

    // Deterministic per-key mode: each user's most frequent event type
    // (ties to the alphabetically smallest) as ONE aggregate over the
    // (user, type) counts — min(struct(−count, type)), never a window
    // over raw events
    "q261_mode_per_key" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(min(struct((-col("cnt")).as("nc"),
          col("event_type").as("t"))).as("m"),
          sum(col("cnt")).as("n_events"))
        .select(col("user_id"), col("m.t").as("mode_type"),
          (-col("m.nc")).as("mode_count"), col("n_events"))
        .orderBy(col("user_id"))
    }),

    // Media-inventory report per source over the binary payload
    // column: byte totals, average object size, distinct-content rate
    // (md5 identity) — the ingest-side audit a multimodal pipeline
    // runs before decode is ever attempted
    "q262_media_inventory" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = Multimodal.payloadFeatures(
        Multimodal.attachPayload(docs, "doc_id", "text"), "doc_id")
      feats.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_objects"),
          sum(col("n_bytes")).cast("long").as("total_bytes"),
          round(sum(col("n_bytes")).cast("double") /
            count(lit(1)).cast("double"), 6).as("avg_bytes"),
          countDistinct(col("content_md5")).as("distinct_payloads"))
        .orderBy(col("source"))
    }),

    // Activity punch-card: (weekday, hour) event counts with the
    // within-day share — integer epoch arithmetic only (dayofweek()
    // conventions differ across engines)
    "q263_punchcard" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "events")
        .select(expr("(unix_micros(ts) DIV 86400000000) % 7").as("dow"),
          expr("(unix_micros(ts) DIV 3600000000) % 24").as("hr"))
        .groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("frac", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("dow")))
            .cast("double"), 6))
        .orderBy(col("dow"), col("hr"))
    }),

    // Revenue concentration per region: Herfindahl–Hirschman index
    // over customer shares — Σshare² = Σrev²/R² from exact DECIMAL
    // sums, plus the 1/HHI "effective competitors" reading
    "q264_hhi" -> ((s, dir) => {
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
      val hhi = col("_sq").cast("double") /
        (col("_tot").cast("double") * col("_tot").cast("double"))
      rev.groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).as("_tot"), sum(col("rev") * col("rev"))
            .as("_sq"))
        .select(col("r_name"), col("n_customers"),
          round(hhi, 6).as("hhi"),
          round(lit(1.0) / hhi, 6).as("effective_competitors"))
        .orderBy(col("r_name"))
    }),

    // Repeat-purchase cadence: global percentiles of the day gaps
    // between a user's consecutive purchases — one per-user lead pass,
    // then exactPercentiles over the gap distribution
    "q265_purchase_intervals" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("_next", lead(col("us"), 1).over(w))
        .where(col("_next").isNotNull)
        .select(((col("_next") - col("us")).cast("double") /
          lit(86400000000.0)).as("gap_days"))
      Stats.exactPercentiles(gaps, Nil, "gap_days",
          Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75)))
        .select(round(col("p25"), 4).as("p25"),
          round(col("p50"), 4).as("p50"), round(col("p75"), 4).as("p75"))
    }),

    // Dedup token savings: share of training tokens removed by exact
    // canonical-pick dedup (q111's injected-copy corpus) — THE
    // headline number a dedup stage reports ("X% of tokens were
    // duplicate mass"); survivors via one semi-join on canonical ids
    "q266_dedup_token_savings" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val corpus = base.unionByName(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("source")))
      val toks = corpus.select(col("doc_id"), col("source"),
        when(length(trim(coalesce(col("text"), lit("")))) === 0, 0L)
          .otherwise(size(TextAnalysis.tokens(col("text"))).cast("long"))
          .as("n_tokens"))
      val surv = NearDup.canonicalDocs(corpus, "doc_id", "text",
          -col("doc_id"))
        .select(col("canonical_id").as("doc_id"))
      val kept = toks.join(surv, Seq("doc_id"), "left_semi")
        .groupBy(col("source")).agg(sum(col("n_tokens")).as("kept_tokens"))
      toks.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .join(kept, Seq("source"))
        .withColumn("savings_frac",
          round(lit(1.0) - col("kept_tokens").cast("double") /
            col("total_tokens").cast("double"), 6))
        .orderBy(col("source"))
    }),

    // The registered-function surface driven through spark.sql — the
    // SQL twin of the Column API the other queries use: temp view +
    // graft_char_entropy kernel, per-doc entropies quantized to
    // DECIMAL before averaging (order-independent)
    "q267_sql_surface" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_v")
      s.sql(
        """WITH e AS (
             SELECT source,
                    round(graft_char_entropy(coalesce(text, '')), 6)
                      AS h
             FROM graft_docs_v)
           SELECT source, count(*) AS n_docs,
                  round(CAST(sum(CAST(h AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*), 6) AS avg_entropy,
                  round(max(h), 6) AS max_entropy,
                  round(min(h), 6) AS min_entropy
           FROM e GROUP BY source ORDER BY source""")
    }),

    // Deterministic negative sampling for contrastive training: per
    // customer, 3 md5-derived candidate parts, anti-joined against the
    // purchased set — replayable (unlike rand()), with collisions
    // dropping out deterministically. The recsys/embedding-training
    // data op
    "q268_negative_sampling" -> ((s, dir) => {
      val pos = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("custkey"),
          col("l_partkey").as("partkey"))
        .distinct()
      val np = t(s, dir, "part").agg(count(lit(1)).as("np"))
      val cands = pos.select(col("custkey")).distinct()
        .crossJoin(broadcast(np))
        .select(col("custkey"), col("np"),
          explode(array(lit(0), lit(1), lit(2))).as("i"))
        .select(col("custkey"), col("i"),
          (pmod(conv(substring(md5(concat(lit("neg:"),
            col("custkey").cast("string"), lit(":"),
            col("i").cast("string"))), 1, 15), 16, 10).cast("long"),
            col("np")) + 1).as("neg_partkey"))
      cands.join(pos.select(col("custkey"),
          col("partkey").as("neg_partkey")),
          Seq("custkey", "neg_partkey"), "left_anti")
        .orderBy(col("custkey"), col("i"))
    }),

    // Leakage-safe k-fold assignment: fold keyed on the md5 of the
    // near-dup COMPONENT (q102's closure contract, k=5) so a
    // document's 98%-copy can never land in another fold; report is
    // per-fold document/component counts
    "q269_kfold_assignment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (pairs, handle) = NearDup.jaccardPairsWithHandle(docs,
        "doc_id", "text", "source", 3, 0.5)
      val clusters = Components.duplicateClusters(docs, pairs, "doc_id")
      handle.release()
      clusters
        .withColumn("fold", pmod(conv(substring(md5(
          col("component").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(5)).cast("int"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_components"))
        .orderBy(col("fold"))
    }),

    // Robust scaling per source: (x − median) / IQR from ONE
    // exactPercentiles pass broadcast back — the heavy-tail-safe
    // standardization (a z-score's mean/std are dragged by the tails
    // robustOutliers q116 flags)
    "q270_robust_scale" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("double").as("v"))
      val bounds = Stats.exactPercentiles(docs, Seq("source"), "v",
        Seq(("q1", 0.25), ("med", 0.5), ("q3", 0.75)))
      docs.join(broadcast(bounds), "source")
        .select(col("doc_id"), col("source"),
          when(col("q3") - col("q1") > 0,
            round((col("v") - col("med")) / (col("q3") - col("q1")), 6))
            .as("robust_z"))
        .orderBy(col("doc_id"))
    }),

    // CAPPED pairwise JS divergence (q242's scale guard made
    // engineering): topGroups keeps only the 8 groups with the most
    // token occurrences (ties by group ascending) before forming
    // pairs — at 10³+ fine-grained sources the uncapped matrix is
    // quadratic in #groups; the cap bounds it at topGroups²·vocab
    "q271_js_capped" -> ((s, dir) => {
      TextAnalysis.jsDivergenceMatrix(t(s, dir, "documents"), "source",
          "text", topGroups = 8)
        .orderBy(col("ga"), col("gb"))
    }),

    // NEAREST-with-tolerance as-of (AsOfJoin.asofNearest, the exec in
    // nearest mode): closest click within ±1800s of each purchase,
    // equidistant ties backward — the forward candidate is the exec's
    // un-consumed right cursor, no lookahead buffer. The name is
    // historical (from when a union + LOCF form was the default);
    // AsOfJoinSpec pins the semantics against a brute force, and the
    // oracle states the same argmin independently.
    "q272_asof_nearest_exec" -> ((s, dir) => {
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      AsOfJoin.asofNearest(purchases, clicks, Seq("user_id"),
          "t", "ct", Seq("click_value"), tolerance = 1800L)
        .select(col("event_id"), col("user_id"), col("t"),
          col("asof_ts"), col("delta"),
          round(col("click_value"), 6).as("click_value"))
        .orderBy(col("event_id"))
    }),

    // The typed AGGREGATES on the plain-SQL surface (q267 proved one
    // scalar kernel; these prove the FunctionRegistry aggregates):
    // graft_interval_union from SQL — same 1800s session merge as q30,
    // zero Column-API code in the query text
    "q273_sql_interval_union" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("user_id"), eventEpochSeconds("ts").as("t"))
        .createOrReplaceTempView("graft_ev_q273")
      s.sql(
        """SELECT user_id, iv.start AS sess_start, iv.end AS sess_end,
                  iv.n AS n_rows
           FROM (SELECT user_id,
                        explode(graft_interval_union(t, t, 1L, 1800L))
                          AS iv
                 FROM graft_ev_q273 GROUP BY user_id)
           ORDER BY user_id, sess_start""")
    }),

    // graft_topk from SQL: bounded top-3 lineitems per return flag by
    // (price DESC, line id ASC) — the k-bounded map-side alternative
    // to the row_number window, now one SQL call
    "q274_sql_topk" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_q274")
      s.sql(
        """SELECT l_returnflag, kv.id AS line_id,
                  round(kv.ord, 2) AS price
           FROM (SELECT l_returnflag,
                        explode(graft_topk(l_extendedprice,
                          l_orderkey * 10 + l_linenumber, 3)) AS kv
                 FROM graft_li_q274 GROUP BY l_returnflag)
           ORDER BY l_returnflag, price DESC, line_id""")
    }),

    // graft_reservoir from SQL: deterministic k-smallest-hash sample →
    // positional median per event type (q228's estimator, SQL-only)
    "q275_sql_reservoir" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("graft_ev_q275")
      s.sql(
        """WITH r AS (
             SELECT event_type,
                    graft_reservoir(
                      CAST(conv(substr(md5(concat('rq:',
                        CAST(event_id AS STRING))), 1, 15), 16, 10)
                        AS BIGINT),
                      CAST(value AS DOUBLE), 128) AS vs
             FROM graft_ev_q275 GROUP BY event_type)
           SELECT event_type, size(vs) AS n_sample,
                  round(element_at(vs,
                    CAST(ceil(0.5 * size(vs)) AS INT)), 6) AS p50
           FROM r ORDER BY event_type""")
    }),

    // The remaining SCALAR kernels on the plain-SQL surface, one query
    // per family (q267/q273-q275 proved entropy + the aggregates):
    // bucket_id from SQL — q3's range-bucket assignment with the exact
    // long floor-div kernel in the query text
    "q276_sql_bucket_id" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_q276")
      s.sql(
        """WITH w AS (
             SELECT l_suppkey,
                    greatest(CAST(ceil(CAST(max(l_orderkey) AS DOUBLE)
                      / 10) AS BIGINT), CAST(1 AS BIGINT))
                      AS bucket_width
             FROM graft_li_q276 GROUP BY l_suppkey)
           SELECT l.l_suppkey,
                  CAST(bucket_id(l.l_orderkey, w.bucket_width) AS INT)
                    AS bucket,
                  count(*) AS n_rows, min(l.l_orderkey) AS min_pos,
                  max(l.l_orderkey) AS max_pos
           FROM graft_li_q276 l JOIN w USING (l_suppkey)
           GROUP BY 1, 2 ORDER BY 1, 2""")
    }),

    // graft_simhash from SQL: the fused 64-bit signature kernel,
    // unpacked to its four 16-bit bands (q23's banding) — the DuckDB
    // oracle rebuilds the signature bit-by-bit from the md5 definition
    "q277_sql_simhash" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_q277")
      s.sql(
        """WITH s AS (
             SELECT doc_id,
                    graft_simhash(split(graft_normalize(
                      coalesce(text, '')), ' ')) AS sig
             FROM graft_docs_q277)
           SELECT doc_id,
                  CAST(shiftright(sig, 0)  & 65535 AS INT) AS s0,
                  CAST(shiftright(sig, 16) & 65535 AS INT) AS s1,
                  CAST(shiftright(sig, 32) & 65535 AS INT) AS s2,
                  CAST(shiftright(sig, 48) & 65535 AS INT) AS s3
           FROM s ORDER BY doc_id""")
    }),

    // graft_damerau from SQL: blocked name linkage with the
    // unrestricted Damerau-Levenshtein kernel in the join predicate;
    // DuckDB's damerau_levenshtein is the independent twin
    "q278_sql_damerau" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("graft_cust_q278")
      // r18: the nation-blocked all-pairs join grew candidate pairs
      // QUADRATICALLY (nation cardinality is fixed, so 10× customers =
      // 100× damerau evaluations — the r18 sf1 gate read 39× wall for
      // 10× data, the exact class the scale gate exists to catch).
      // Candidates now come from the SYMMETRIC-DELETE inverted index
      // expressed in SQL — the same ≤2-deletion-neighborhood contract
      // as NearDup.typoPairs (delete the substituted/deleted positions
      // on one side and the inserted/substituted positions on the
      // other, one deletion per side for a transposition: any DL ≤ 2
      // pair shares a key; false candidates die on the exact
      // graft_damerau filter). The oracle keeps the straightforward
      // all-pairs statement, so the driver's hash check IS the
      // equivalence proof. MERGE hint per symDeleteCands: the planner
      // sizes the exploded key table off the un-exploded input and
      // would mis-broadcast a ~170×-fanned relation.
      s.sql(
        """WITH c AS (
             SELECT c_custkey AS id, c_nationkey AS blk, c_name AS s
             FROM graft_cust_q278
             WHERE c_custkey % 20 = 0),
           k AS (
             SELECT id, blk, s,
                    explode(array_union(array_union(array(s),
                      CASE WHEN length(s) > 0 THEN
                        transform(sequence(0, length(s) - 1), i ->
                          concat(substring(s, 1, i),
                                 substring(s, i + 2, length(s))))
                      ELSE array() END),
                      CASE WHEN length(s) > 1 THEN
                        flatten(transform(sequence(0, length(s) - 2), i ->
                          transform(sequence(i + 1, length(s) - 1), j ->
                            concat(substring(s, 1, i),
                                   substring(s, i + 2, j - i - 1),
                                   substring(s, j + 2, length(s))))))
                      ELSE array() END)) AS key
             FROM c),
           cand AS (
             SELECT /*+ MERGE(a) */ DISTINCT
                    a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
             FROM k a JOIN k b
               ON a.blk = b.blk AND a.key = b.key AND a.id < b.id)
           SELECT id_a, id_b, dist FROM (
             SELECT id_a, id_b, graft_damerau(sa, sb) AS dist FROM cand)
           WHERE dist <= 2
           ORDER BY id_a, id_b""")
    }),

    // graft_count_in from SQL: q19's marker-profile language ID with
    // the native membership-count kernel in the query text (en-first
    // tie-break, same as the Column-API form)
    "q279_sql_langid" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_q279")
      s.sql(
        """WITH tk AS (
             SELECT doc_id, split(graft_normalize(coalesce(text, '')),
                                  ' ') AS toks
             FROM graft_docs_q279),
           sc AS (
             SELECT doc_id,
               graft_count_in(toks, array('the','a','of','and','is'))
                 AS s_en,
               graft_count_in(toks, array('der','die','das','und','ist'))
                 AS s_de,
               graft_count_in(toks, array('le','la','les','et','est'))
                 AS s_fr,
               graft_count_in(toks, array('el','los','y','es','se'))
                 AS s_es
             FROM tk)
           SELECT doc_id,
             CASE WHEN s_en >= greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                  WHEN s_de >= greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                  WHEN s_fr >= greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                  ELSE 'es' END AS pred_lang
           FROM sc ORDER BY doc_id""")
    }),

    // graft_jaro_winkler from SQL: blocked linkage confidence; the
    // kernel's conventions (boost threshold 0.7, prefix cap 4, empty →
    // 0) deliberately match DuckDB's jaro_winkler_similarity, so the
    // oracle is a true independent twin
    "q280_sql_jaro_winkler" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("graft_cust_q280")
      s.sql(
        """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                  round(graft_jaro_winkler(a.c_name, b.c_name), 6) AS jw
           FROM graft_cust_q280 a JOIN graft_cust_q280 b
             ON a.c_nationkey = b.c_nationkey
            AND a.c_custkey < b.c_custkey
           WHERE a.c_custkey % 50 = 0 AND b.c_custkey % 50 = 0
           ORDER BY id_a, id_b""")
    }),

    // graft_zorder from SQL: Morton z-values over (user bucket, value
    // bucket), re-aggregated by z-range; the DuckDB oracle rebuilds
    // the interleave bit-by-bit (x on even positions, y on odd)
    "q281_sql_zorder" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("graft_ev_q281")
      s.sql(
        """WITH z AS (
             SELECT graft_zorder(pmod(user_id, 1024),
                      greatest(least(floor(value), CAST(1023 AS BIGINT)),
                               CAST(0 AS BIGINT))) AS zv
             FROM graft_ev_q281)
           SELECT zv DIV 1024 AS z_bucket,
                  count(*) AS n_rows, min(zv) AS min_z, max(zv) AS max_z
           FROM z GROUP BY 1 ORDER BY 1""")
    }),

    // Text-hygiene kernels from SQL: md5 fingerprint, token count,
    // distinct-token ratio, NFC composition (decomposed input), accent
    // stripping (precomposed input) — each against its DuckDB twin
    "q282_sql_text_hygiene" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_q282")
      s.sql(
        """SELECT doc_id,
                  graft_fingerprint(coalesce(text, '')) AS fp,
                  graft_token_count(coalesce(text, '')) AS n_toks,
                  round(graft_distinct_ratio(coalesce(text, '')), 6)
                    AS distinct_ratio,
                  graft_nfc(concat('Café ', source)) AS nfc_name,
                  graft_strip_accents(concat('Café nuñez ',
                    source)) AS ascii_name
           FROM graft_docs_q282 ORDER BY doc_id""")
    }),

    // graft_shingles + graft_top_count from SQL: word 3-gram count and
    // max shingle multiplicity per doc (the repetition screen's
    // kernels); <3-token docs legitimately yield (0, 0)
    "q283_sql_shingles" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_q283")
      s.sql(
        """WITH sh AS (
             SELECT doc_id,
                    graft_shingles(split(graft_normalize(
                      coalesce(text, '')), ' '), 3) AS shingles
             FROM graft_docs_q283)
           SELECT doc_id, size(shingles) AS n_shingles,
                  graft_top_count(shingles) AS top_shingle_count
           FROM sh ORDER BY doc_id""")
    }),

    // graft_winnow from SQL: the fused winnowing-fingerprint kernel
    // (k=3-gram md5 hashes → distinct minima of w=4 sliding windows);
    // the DuckDB twin rebuilds it exactly — positional k-grams, the
    // same 15-hex-char hash, a ROWS-window min, and the single-global-
    // min fallback for docs with fewer than w k-grams
    "q287_sql_winnow" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_q287")
      s.sql(
        """SELECT doc_id, fp
           FROM (SELECT doc_id,
                        explode(graft_winnow(split(graft_normalize(
                          coalesce(text, '')), ' '), 3, 4)) AS fp
                 FROM graft_docs_q287)
           ORDER BY doc_id, fp""")
    }),

    // graft_quantize_i8 + graft_dot_i8 from SQL: the int8 ANN scoring
    // path end-to-end in query text. The kernel rounds ties away from
    // zero precisely so DuckDB's round() can serve as the exact twin
    // (both compute q = clamp(round(x·127/maxAbs)) from the identical
    // float→double values, then an exact integer dot)
    "q288_sql_int8" -> ((s, dir) => {
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb_q288")
      s.sql(
        """WITH q AS (
             SELECT vec_id, graft_quantize_i8(embedding) AS qv
             FROM graft_emb_q288 WHERE vec_id < 64)
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  graft_dot_i8(a.qv, b.qv) AS qdot
           FROM q a JOIN q b ON a.vec_id < b.vec_id
           ORDER BY id_a, id_b""")
    }),

    // graft_dot from SQL: exact double-accumulated float dot product
    // on bounded id pairs; DuckDB's list_dot_product over DOUBLE[] is
    // the twin (float→double widening is exact, same sum order)
    "q284_sql_dot" -> ((s, dir) => {
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb_q284")
      s.sql(
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  round(graft_dot(a.embedding, b.embedding), 6) AS dot
           FROM graft_emb_q284 a JOIN graft_emb_q284 b
             ON a.vec_id < b.vec_id
           WHERE a.vec_id < 64 AND b.vec_id < 64
           ORDER BY id_a, id_b""")
    }),

    "q211_skip_rate" -> ((s, dir) => {
      val env = Layout.zorderFileStats(t(s, dir, "events"),
        pmod(col("user_id"), lit(1024L)),
        floor(col("value")).cast("long"),
        col("event_id"), rowsPerFile = 512L)
      val tot = env.agg(count(lit(1)).as("total_files"))
      def hitsFor(minC: String, maxC: String, dim: String) = {
        val spine = s.range(64).select(lit(dim).as("dim"),
          (col("id") * 16).as("probe"))
        val hit = env
          .where(expr(s"($minC + 15) DIV 16 <= $maxC DIV 16"))
          .select(explode(sequence(expr(s"($minC + 15) DIV 16"),
            expr(s"$maxC DIV 16"))).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("files_hit"))
        spine.join(hit, spine("probe") === hit("k") * 16, "left")
          .select(col("dim"), col("probe"),
            coalesce(col("files_hit"), lit(0L)).as("files_hit"))
      }
      hitsFor("x_min", "x_max", "x")
        .unionByName(hitsFor("y_min", "y_max", "y"))
        .crossJoin(broadcast(tot))
        .withColumn("skip_rate", round(lit(1.0) -
          col("files_hit").cast("double") /
          col("total_files").cast("double"), 6))
        .orderBy(col("dim"), col("probe"))
    }),

    // Streaming drift monitor: Population Stability Index of each
    // 1-day window's value-bin distribution against the full-corpus
    // reference — "did today's traffic stop looking like the
    // training distribution". The STREAM does only a watermarked
    // windowed count per fixed bin (O(windows × 10) state); PSI with
    // Laplace smoothing is batch presentation over the drained table,
    // contributions rounded + DECIMAL-summed (the chi² pattern)
    "q225_stream_drift" -> ((s, dir) => {
      // complete-mode sink: trailing no-data batch is eviction-only
      // here — skip it (noEvictionDrainSession scaladoc; r18). The
      // parquet round-trip below re-reads from the ORIGINAL session;
      // that boundary is files, so mixing sessions is safe there.
      val sd = graft.streaming.Streams.noEvictionDrainSession(s)
      val bin = least(floor(col("value") / 50).cast("int"), lit(9))
      val stream = eventsStream(sd, dir)
        .select(eventTimestamp("ts").as("ets"), bin.as("bin"))
      val agg = stream.withWatermark("ets", "0 seconds")
        .groupBy(window(col("ets"), "1 day"), col("bin"))
        .agg(count(lit(1)).as("c"))
        .select(col("window.start").cast("long").as("w_start"),
          col("bin"), col("c"))
      // parquet round-trip: the memory-sink view cannot appear on both
      // sides of the spine join (conflicting attribute ids inside the
      // MemoryPlan view defeat join dedup); the table is windows×10
      val winsPath = scratch(s, "q225")
      graft.streaming.Streams.drainToMemory(agg, "graft_q225_drift")
        .write.mode("overwrite").parquet(winsPath)
      val wins = s.read.parquet(winsPath)
      val ref = t(s, dir, "events").select(bin.as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("rc"))
      val nref = t(s, dir, "events").agg(count(lit(1)).as("nr"))
      val spine = wins.select(col("w_start")).distinct()
        .crossJoin(broadcast(
          s.range(0, 10).select(col("id").cast("int").as("bin"))))
      val cells = spine
        .join(wins, Seq("w_start", "bin"), "left")
        .select(col("w_start"), col("bin"),
          coalesce(col("c"), lit(0L)).as("c"))
        .join(broadcast(ref), Seq("bin"), "left")
        .select(col("w_start"), col("bin"), col("c"),
          coalesce(col("rc"), lit(0L)).as("rc"))
        .crossJoin(broadcast(nref))
      val wTot = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w_start"))
      val pw = (col("c") + 1).cast("double") /
        (col("n") + 10).cast("double")
      val pr = (col("rc") + 1).cast("double") /
        (col("nr") + 10).cast("double")
      cells
        .withColumn("n", sum(col("c")).over(wTot))
        .withColumn("_contrib",
          round((pw - pr) * log(pw / pr), 6).cast("decimal(18,6)"))
        .groupBy(col("w_start"))
        .agg(max(col("n")).as("n"),
          sum(col("_contrib")).cast("double").as("psi"))
        .orderBy(col("w_start"))
    }),

    // Local clustering coefficient over q147's adjacent-line part
    // graph: triangles(v) / C(deg v, 2) per node — the per-node
    // neighborhood-density refinement of the global triangle count
    "q224_clustering_coeff" -> ((s, dir) => {
      val edges = adjacentLineEdges(s, dir)
        .where(col("src") =!= col("dst"))
      Graph.clusteringCoefficient(edges, "src", "dst")
        .orderBy(col("id"))
    }),

    // Modularity of the brand partition over the co-purchase part
    // graph: is "brand" a real community structure — the partition-
    // quality audit for dedup-class/topic/domain groupings; pure
    // equi-join aggregates, no iteration
    "q222_modularity" -> ((s, dir) => {
      val comm = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      Graph.modularity(coOrderEdges(s, dir), "u", "v",
          comm, "p_partkey", "p_brand")
        .orderBy(col("community"))
    }),

    // Degree assortativity of the same co-purchase graph: one-number
    // structural fingerprint (hubs-link-hubs vs hubs-link-leaves);
    // integer moment sums in DECIMAL, one floating division
    "q223_assortativity" -> ((s, dir) => {
      Graph.assortativity(coOrderEdges(s, dir), "u", "v")
    }),

    // Cross-source quantile normalization of document length: each
    // source's score distribution mapped onto the global one (the
    // batch-effect correction for drifting per-source quality
    // scorers); two distinct-value rank passes + a banded value-at-
    // index equi-join — never a theta join, never a per-row window
    "q221_quantile_normalize" -> ((s, dir) => {
      Stats.quantileNormalize(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), "n_chars", binSize = 64L)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("qnorm"))
        .orderBy(col("doc_id"))
    }),

    // Per-label Gram matrix of the embeddings (the covariance/PCA
    // feeding sums): ONE aggregate pass with a fixed d(d+1)/2 Long
    // buffer per map partition — never a d² row explosion; exact
    // quantized-integer sums so the shuffle order can't move a bit
    "q220_embedding_gram" -> ((s, dir) => {
      Similarity.gramMatrix(t(s, dir, "embeddings"), Seq("label"),
          "embedding", dim = 64)
        .orderBy(col("label"), col("i"), col("j"))
    }),

    // NDCG@5 per user: does ranking a user's events by value surface
    // the purchases — the ranking-quality half of the eval suite (q212
    // is the classification half); two row_numbers over one exchange,
    // DECIMAL-summed rounded gains
    "q217_ndcg" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("value"),
        col("event_id"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("rel"))
      Stats.ndcgAtK(e, Seq("user_id"), "value", "rel", k = 5,
          tieCol = "event_id")
        .orderBy(col("user_id"))
    }),

    // Precision/recall/F1 sweep at the score's own exact deciles — the
    // PR-curve table; 9-row broadcast threshold table, scan-stage
    // fan-out, map-side-combined aggregate to 9 rows
    "q218_pr_curve" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("value"),
        (col("event_type") === "purchase").as("pos"))
      Stats.prAtThresholds(e, "value", col("pos"),
          (1 to 9).map(_ / 10.0))
        .orderBy(col("prob"))
    }),

    // Exact Spearman (midrank ties) of quantity vs price per return
    // flag — monotone-association audit; doubled midranks keep all five
    // sums integer/DECIMAL, only the final correlation is floating
    "q219_spearman" -> ((s, dir) => {
      Stats.spearmanByKey(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice", orderBuckets = 4)
        .orderBy(col("l_returnflag"))
    }),

    // Exact ROC AUC per weekday of event value predicting purchase —
    // the quality-classifier evaluation primitive; Mann-Whitney midrank
    // form, integer until one final division (Stats.aucByKey scaladoc),
    // rank pass split 8 ways so no weekday funnels through one task
    "q212_auc" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        expr("(unix_micros(ts) DIV 86400000000 + 4) % 7").as("wd"),
        col("value"),
        (col("event_type") === "purchase").as("pos"))
      Stats.aucByKey(e, Seq("wd"), "value", col("pos"), orderBuckets = 8)
        .orderBy(col("wd"))
    }),

    // Gini concentration of customer spend per nation — revenue-
    // concentration audit; ranks never materialize per row (distinct-
    // value rank mass, Stats.giniByKey scaladoc), DECIMAL-exact until
    // the final division
    "q213_gini" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(moneySum(col("o_totalprice")).cast("decimal(18,4)")
          .as("spend"))
      val k = spend.join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("spend"))
      Stats.giniByKey(k, Seq("c_nationkey"), "spend", orderBuckets = 4)
        .orderBy(col("c_nationkey"))
    }),

    // Item-item co-occurrence cosine neighbors over order baskets
    // (500 part categories): the collaborative-filtering similarity
    // table; pair generation blocked on the basket key, top-3 over each
    // item's thresholded neighbor list
    "q214_item_similarity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        pmod(col("l_partkey"), lit(500L)).as("item"))
      Association.itemCosine(li, Seq("l_orderkey"), "item",
          minCo = 3, topK = 3)
        .orderBy(col("item"), col("rank"))
    }),

    // Benford first-digit screen of order totals per priority class —
    // fabricated-data audit; digit via DECIMAL-string regexp (no float
    // log digit math), chi-square from DECIMAL-summed rounded
    // contributions (order-independent)
    "q215_benford" -> ((s, dir) => {
      Stats.benfordScreen(t(s, dir, "orders"), Seq("o_orderpriority"),
          "o_totalprice")
        .orderBy(col("o_orderpriority"), col("digit"))
    }),

    // Calibration (reliability) table: exact value deciles (q170's
    // quantileBin) vs realized purchase rate — is the score monotone in
    // the outcome; one broadcast of 9 boundaries + one aggregate
    "q216_calibration" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("value"),
        (col("event_type") === "purchase").as("pos"))
      Stats.quantileBin(e, "value", (1 to 9).map(_ / 10.0), "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,4)")).cast("double") /
            count(lit(1)), 6).as("mean_score"),
          round(sum(when(col("pos"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("pos_rate"))
        .orderBy(col("decile"))
    }),

    // Seasonality-adjusted anomaly screen: remove the (event_type,
    // weekday) mean, z-score the residual against the type's residual
    // spread — the "Monday is always high, that's not an anomaly"
    // correction a raw z-score lacks; two aggregate passes, exact
    // DECIMAL sums, one cast each
    "q210_seasonal_anomaly" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"),
        col("event_type"),
        expr("(unix_micros(ts) DIV 86400000000 + 4) % 7").as("wd"),
        col("value").cast("decimal(18,4)").as("v"))
      // weekday mean from the exact DECIMAL sum, one cast, rounded —
      // both engines derive the identical double
      val wdMean = e.groupBy(col("event_type"), col("wd"))
        .agg(round(sum(col("v")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mu"))
      val res = e.join(wdMean, Seq("event_type", "wd"))
        .select(col("event_id"), col("event_type"), col("wd"),
          round(col("v").cast("double") - col("mu"), 6).as("res"))
      // the screen itself is q116's exact median/MAD machinery over
      // the ROUNDED residuals — no float-sum thresholds anywhere
      Stats.robustOutliers(res, Seq("event_type"), "res", factor = 3.0)
        .select(col("event_id"), col("event_type"), col("wd"),
          col("res"), round(col("med"), 6).as("med"),
          round(col("mad"), 6).as("mad"))
        .orderBy(col("event_id"))
    }),

    // Personalized PageRank: random walk with restart to a seed set —
    // seed-relative relevance (crawl-frontier expansion), not global
    // authority; restart mass returns to seeds only, sink mass leaves
    // (pseudo-PPR, oracle-unrollable); pageRank's round shape
    "q208_personalized_pagerank" -> ((s, dir) => {
      val edges = adjacentLineEdges(s, dir)
        .where(col("src") =!= col("dst"))
      val seeds = t(s, dir, "part")
        .where(col("p_partkey") % 500 === 0)
        .select(col("p_partkey"))
      Graph.personalizedPageRank(edges, "src", "dst", seeds,
          "p_partkey", iterations = 3)
        .select(col("id"), round(col("ppr"), 9).as("ppr"))
        .orderBy(col("id"))
    }),

    // Linear interpolation of gaps in a per-type minute series:
    // interior holes lerp between nearest known neighbors (LOCF's
    // step fill says 10 where the truth between 10 and 20 is ~15),
    // edges take the nearest known value; both window passes share
    // one exchange
    "q209_linear_interp" -> ((s, dir) => {
      val series = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 60000000").as("minute"))
        .agg(round(sum(col("value").cast("decimal(18,4)"))
            .cast("double") / count(lit(1)).cast("double"), 6)
          .as("v"))
        .withColumn("v", when(col("minute") % 13 === 0,
          lit(null).cast("double")).otherwise(col("v")))
      Stats.linearInterp(series, Seq("event_type"), "minute", "v")
        .select(col("event_type"), col("minute"),
          col("v").isNull.as("was_gap"),
          round(col("interp"), 6).as("interp"))
        .orderBy(col("event_type"), col("minute"))
    }),

    // Gopher quality gates (Rae et al. 2021 §A1.1): the published
    // hard thresholds — word count, mean word length, alpha-word
    // fraction, ≥2 distinct common stopwords — as one zero-shuffle
    // scan-stage report; repetitionSignals (q67) carries the
    // repetition half of the rule set
    "q207_gopher_rules" -> ((s, dir) => {
      TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text",
          minWords = 20)
        .orderBy(col("doc_id"))
    }),

    // EXACT rolling 7-day distinct users per day: dedupe to (user,day)
    // once, then each user-day contributes to its 7 covering windows
    // via a scan-stage offset explode — bounded ×7 fan-out replaces
    // the unbounded self-join a naive "DISTINCT over a RANGE window"
    // implies (count(DISTINCT) over windows is unsupported for good
    // reason); two-level distinct-then-count aggregation, all
    // map-side-combinable
    "q206_rolling_distinct" -> ((s, dir) => {
      val userDays = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000")
          .as("day"))
        .distinct()
      val allDays = userDays.select(col("day")).distinct()
      userDays
        .withColumn("wday", explode(sequence(col("day"),
          col("day") + 6)))
        .select(col("wday"), col("user_id")).distinct()
        .join(allDays.select(col("day").as("wday")), Seq("wday"),
          "left_semi") // only report real days, not the +6 overhang
        .groupBy(col("wday"))
        .agg(count(lit(1)).as("distinct_users_7d"))
        .orderBy(col("wday"))
    }),

    // Run-length compression of event streams: consecutive same-type
    // events collapse to (type, run_len) — gaps-and-islands with the
    // lag≠current change marker; the replay-compression preprocessing
    // step for sequence models, per-user windows only
    "q203_run_length" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsu"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("tsu"),
          col("event_id"), col("event_type"))
        .withColumn("_chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run_id", sum(col("_chg")).over(w))
        .groupBy(col("user_id"), col("run_id"))
        .agg(min(col("event_type")).as("event_type"),
          count(lit(1)).as("run_len"), min(col("tsu")).as("t_start"))
        .where(col("run_len") >= 2)
        .orderBy(col("user_id"), col("run_id"))
    }),

    // Cohort LTV curves: users cohorted by first-purchase week, weekly
    // revenue by cohort age, cumulative in exact DECIMAL (the
    // retention-economics table every growth team reads); one window
    // over the cohort×age aggregate, never over events
    "q204_ltv_curves" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wk = 7L * 86400L * 1000000L
      val p = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), expr("unix_micros(ts)").as("tsu"),
          col("value").cast("decimal(18,4)").as("v"))
      val cohorts = p.groupBy(col("user_id"))
        .agg(expr(s"min(tsu) DIV $wk").as("cohort_wk"))
      val weekly = p.join(cohorts, "user_id")
        .groupBy(col("cohort_wk"),
          (expr(s"tsu DIV $wk") - col("cohort_wk")).as("age_wk"))
        .agg(sum(col("v")).as("_rev"))
      val wc = Window.partitionBy(col("cohort_wk")).orderBy(col("age_wk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weekly
        .withColumn("_cum", sum(col("_rev")).over(wc))
        .select(col("cohort_wk"), col("age_wk"),
          round(col("_rev"), 4).cast("double").as("rev"),
          round(col("_cum"), 4).cast("double").as("cum_rev"))
        .orderBy(col("cohort_wk"), col("age_wk"))
    }),

    // Position-based (U-shaped) multi-touch attribution: clicks before
    // a user's first purchase earn 40/20/40 credit (first/middle/last;
    // 1.0 solo, 0.5/0.5 for a pair) — q134's last-touch model
    // generalized; per-user windows only, daily roll-up
    "q200_position_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts)").as("tsu"), col("event_id"),
        col("event_type"))
      val fp = e.where(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("tsu")).as("fpt"))
      val clicks = e.where(col("event_type") === "click")
        .join(fp, "user_id").where(col("tsu") < col("fpt"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsu"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      val credited = clicks
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("credit",
          when(col("n") === 1, lit(1.0))
            .when(col("n") === 2, lit(0.5))
            .when(col("rn") === 1 || col("rn") === col("n"), lit(0.4))
            .otherwise(lit(0.2) / (col("n") - 2).cast("double")))
      credited
        .groupBy(expr("tsu DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("n_clicks"),
          round(sum(col("credit")), 6).as("credit"))
        .orderBy(col("day"))
    }),

    // Difference-in-differences report: 2×2 (treated × post) means in
    // ONE conditional-aggregate pass — exact DECIMAL sums, one cast to
    // double, closed-form DiD estimate (q128's A/B shape with a time
    // axis); treatment = hash arm, post = second half of the window
    "q201_did_report" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        (substring(md5(concat(lit("did:"),
          col("user_id").cast("string"))), 1, 2) < "80").as("treated"),
        // 2024-01-16T00:00:00Z — the window midpoint, as an epoch-µs
        // literal (never a TZ-dependent local-time parse)
        (expr("unix_micros(ts)") >= lit(1705363200000000L)).as("post"),
        col("value").cast("decimal(18,4)").as("v"))
      def m(t: Boolean, p: Boolean) =
        (sum(when(col("treated") === t && col("post") === p, col("v")))
          .cast("double") /
         sum(when(col("treated") === t && col("post") === p, 1L))
           .cast("double"))
      e.agg(round(m(false, false), 6).as("ctrl_pre"),
          round(m(false, true), 6).as("ctrl_post"),
          round(m(true, false), 6).as("treat_pre"),
          round(m(true, true), 6).as("treat_post"),
          round((m(true, true) - m(true, false)) -
            (m(false, true) - m(false, false)), 6).as("did"))
    }),

    // Per-source longest common prefix — template detection via the
    // min/max trick: LCP of a whole GROUP equals LCP(min(text),
    // max(text)) under binary string order, so the scan aggregates two
    // strings per source and the O(L²) char comparison runs on
    // #sources rows, never documents
    "q202_common_prefix" -> ((s, dir) => {
      val mm = t(s, dir, "documents")
        .where(col("text").isNotNull)
        .groupBy(col("source"))
        .agg(min(col("text")).as("mn"), max(col("text")).as("mx"))
      mm.withColumn("lcp_len",
          // prefix equality is monotone in i, so the count of equal
          // prefixes IS the LCP length; guard the empty-string case
          // (sequence(1, 0) would infer a NEGATIVE step)
          expr("""CASE WHEN least(length(mn), length(mx)) < 1 THEN 0
                  ELSE size(filter(
                    sequence(1, least(length(mn), length(mx))),
                    i -> substr(mn, 1, i) = substr(mx, 1, i))) END""")
            .cast("long"))
        .select(col("source"), col("lcp_len"))
        .orderBy(col("source"))
    }),

    // Point-in-interval band join on RangeJoin.bucketedOverlapJoin:
    // each order's cents is a degenerate interval [cents, cents], so it
    // lands in exactly one width-10000 bucket and the band side explodes
    // into the buckets it covers (hash shuffle, no BNLJ/cartesian). The
    // helper's predicate is closed; the band's half-open upper bound is
    // the residual `cents < hi`
    "q199_range_band_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      val bands = o.where(col("o_orderkey") % 75 === 0)
        .select(col("o_orderkey").as("band_id"),
          (col("cents") - 5000L).as("lo"),
          (col("cents") + 5000L).as("hi"))
      RangeJoin.bucketedOverlapJoin(o, bands, Seq.empty,
          "cents", "cents", "lo", "hi", bucketWidth = 10000L)
        .where(col("cents") < col("hi") &&
          col("o_orderkey") =!= col("band_id"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_in_band"),
          min(col("o_orderkey")).as("first_pt"))
        .orderBy(col("band_id"))
    }),

    // Cross-table referential-integrity audit: orphan counts + row
    // coverage for every FK edge of the star schema in one report —
    // each edge is ONE left-anti-join count (broadcast for the small
    // parents), the data-quality sweep a 100 TB ingest runs before
    // publishing a snapshot
    "q198_fk_audit" -> ((s, dir) => {
      def edge(name: String, child: DataFrame, fk: String,
               parent: DataFrame, pk: String): DataFrame = {
        val orphans = child.select(col(fk).as("_k"))
          .join(parent.select(col(pk).as("_k")), Seq("_k"), "left_anti")
          .agg(count(lit(1)).as("orphan_rows"))
        child.agg(count(lit(1)).as("child_rows"))
          .crossJoin(orphans)
          .select(lit(name).as("fk"), col("child_rows"),
            col("orphan_rows"))
      }
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val p = t(s, dir, "part")
      val n = t(s, dir, "nation")
      edge("lineitem.orderkey", li, "l_orderkey", o, "o_orderkey")
        .unionByName(edge("lineitem.partkey", li, "l_partkey", p,
          "p_partkey"))
        .unionByName(edge("lineitem.suppkey", li, "l_suppkey", su,
          "s_suppkey"))
        .unionByName(edge("orders.custkey", o, "o_custkey", c,
          "c_custkey"))
        .unionByName(edge("customer.nationkey", c, "c_nationkey", n,
          "n_nationkey"))
        .unionByName(edge("supplier.nationkey", su, "s_nationkey", n,
          "n_nationkey"))
        .orderBy(col("fk"))
    }),

    // Streaming EXACT distinct count: watermarked dropDuplicates on
    // (window, type, user) feeding a windowed count — the standard
    // two-stage workaround for streaming's unsupported COUNT(DISTINCT)
    // (dedup state holds one row per distinct key and EVICTS with the
    // watermark; the count is then a plain commutative agg). Matches
    // the batch COUNT(DISTINCT) oracle exactly under any arrival order
    "q197_stream_distinct" -> ((s, dir) => {
      // complete-mode sink: the trailing no-data batch only evicts
      // dedup state, the emitted aggregate is identical — skip it
      // (noEvictionDrainSession scaladoc; r18)
      val sd = graft.streaming.Streams.noEvictionDrainSession(s)
      val deduped = eventsStream(sd, dir)
        .select(eventTimestamp("ts").as("ets"), col("event_type"),
          col("user_id"))
        .withWatermark("ets", "1 day")
        .select(window(col("ets"), "1 day").as("w"), col("event_type"),
          col("user_id"))
        .dropDuplicates("w", "event_type", "user_id")
      val agg = deduped.groupBy(col("w"), col("event_type"))
        .agg(count(lit(1)).as("distinct_users"))
      graft.streaming.Streams.drainToMemory(agg, "graft_q197_distinct")
        .select(col("w.start").cast("long").as("w_start"),
          col("event_type"), col("distinct_users"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // Two-stage record linkage: symdelete candidate generation (exact
    // DL≤1 cover) + native graft_jaro_winkler confidence — the smooth
    // [0,1] score an auto-merge threshold needs, bit-matching DuckDB's
    // jaro_winkler_similarity on the oracle side
    "q196_jw_linkage" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val typos = cust.where(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 3000000L).as("c_custkey"),
          concat(substring(col("c_name"), 1, 16),
            substring(col("c_name"), 18, 1),
            substring(col("c_name"), 17, 1)).as("c_name"),
          col("c_nationkey"))
      NearDup.jaroWinklerLinkage(cust.unionByName(typos), "c_custkey",
          "c_name", "c_nationkey", minSim = 0.85)
        .select(col("a"), col("b"), round(col("jw"), 6).as("jw"))
        .orderBy(col("a"), col("b"))
    }),

    // Exact systematic PPS sample: fixed stride over the md5-shuffled
    // cumulative weight line — all-integer boundary test (no RNG, no
    // float thresholds), certainty inclusion for heavy items with
    // multiplicity in `hits`; prefix sums via the range-partition +
    // offset-window protocol, never a one-partition window
    "q192_pps_sample" -> ((s, dir) => {
      Sampling.ppsSystematic(
          t(s, dir, "orders").select(col("o_orderkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long").as("cents")),
          "o_orderkey", "cents", n = 500L)
        .orderBy(col("o_orderkey"))
    }),

    // Add-one-smoothed corpus bigram LM score per doc: catches
    // real-words-in-implausible-order spam that the unigram model
    // (q118) scores as fluent; one tokenize pass feeds both count
    // tables, V broadcasts as one row
    "q193_bigram_lm" -> ((s, dir) => {
      TextAnalysis.bigramLogProb(t(s, dir, "documents"), "doc_id",
          "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("mean_logp"), 6).as("mean_logp"))
        .orderBy(col("doc_id"))
    }),

    // Source-overlap at SKETCH cost: one mergeable k=16 MinHash
    // signature per source (component-wise min combines map-side),
    // pairwise estimated Jaccard over #sources² signatures — the
    // fixed-size estimate of q155's exact posting-list matrix
    "q194_source_minhash" -> ((s, dir) => {
      NearDup.sourceMinhashSim(t(s, dir, "documents"), "source",
          "text", shingleN = 3, k = 16)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Frequent contiguous 3-step event sequences per user stream —
    // funnel discovery: two lead()s over ONE per-user sort, map-side
    // count, support cut; no n-way self-join
    "q195_event_sequences" -> ((s, dir) => {
      Stats.sequenceSupport(
          t(s, dir, "events")
            .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type")),
          "user_id", Seq(col("ts"), col("event_id")), "event_type",
          n = 3, minSupport = 5L)
        .orderBy(col("step_1"), col("step_2"), col("step_3"))
    }),

    // Z-order (Morton-curve) layout: key rows by the native codegen
    // graft_zorder interleave of (user bucket, value bucket), cut the
    // z-sorted order into 512-row files, emit each file's min/max
    // pruning envelope — tight on BOTH dimensions, the property that
    // lets a 100 TB scan filtered on either column skip files (a
    // one-column sort leaves the other envelope full-width)
    "q190_zorder_layout" -> ((s, dir) => {
      val e = t(s, dir, "events")
      Layout.zorderFileStats(e,
          pmod(col("user_id"), lit(1024L)),
          floor(col("value")).cast("long"),
          col("event_id"), rowsPerFile = 512L)
        .orderBy(col("file_id"))
    }),

    // Target-size compaction plan (the small-files problem): per
    // source, fill 4000-byte bins in size-descending order — bin id =
    // prior cumulative DIV target, all integer window arithmetic; the
    // Delta-OPTIMIZE / Iceberg-rewrite bin-packing model over what is
    // metadata (a file listing), never data
    "q191_compaction_plan" -> ((s, dir) => {
      Layout.compactionPlan(
          t(s, dir, "documents")
            .select(col("source"), col("doc_id"), col("n_chars")),
          Seq("source"), "n_chars", "doc_id", targetBytes = 4000L)
        .orderBy(col("source"), col("bin"))
    }),

    // HITS hubs & authorities (2 rounds, L1-normalized) on the
    // part-sequence graph — separates "links to quality" (hub) from
    // "is linked by quality" (auth); the seed-list-vs-admission split
    // PageRank alone can't express. One-row normalizer broadcasts;
    // lazy rounds over pinned bases (pageRank protocol)
    "q188_hits" -> ((s, dir) => {
      val edges = adjacentLineEdges(s, dir)
        .where(col("src") =!= col("dst"))
      Graph.hits(edges, "src", "dst", iterations = 2)
        .select(col("id"), round(col("hub"), 9).as("hub"),
          round(col("auth"), 9).as("auth"))
        .orderBy(col("id"))
    }),

    // Adamic–Adar link prediction on the support-≥2 part co-purchase
    // graph (unordered part pairs within an order, kept only when they
    // co-occur in ≥ 2 orders — the support cut is what makes the graph
    // sparse and the missing-link score meaningful): scores for
    // non-adjacent pairs sharing neighbors, hub centers excluded by
    // maxDegree (the maxDf doctrine — a degree-d center emits C(d,2)
    // wedges while contributing the sum's SMALLEST term)
    "q189_adamic_adar" -> ((s, dir) => {
      val edges = inOrderPartPairs(s, dir)
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 2)
      Graph.adamicAdar(edges, "u", "v", maxDegree = 30)
        .select(col("a"), col("b"), col("common"),
          round(col("aa"), 6).as("aa"))
        .orderBy(col("a"), col("b"))
    }),

    "q187_stream_topk" -> ((s, dir) => {
      val tk = udaf(graft.functions.TopKAgg(3))
      val agg = eventsStream(s, dir)
        .select(col("event_type"), col("value"), col("event_id"))
        .groupBy(col("event_type"))
        .agg(tk(col("value"), col("event_id")).as("top"))
      graft.streaming.Streams.drainToMemory(agg, "graft_q187_topk")
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"),
          (col("pos") + 1).cast("int").as("rnk"),
          col("col.ord").as("value"), col("col.id").as("event_id"))
        .orderBy(col("event_type"), col("rnk"))
    }),

    // Lag-1 autocorrelation of event values per type: lead() pairs +
    // exact-DECIMAL sums + the closed-form Pearson r — never the
    // engine-dependent streaming corr() recurrence
    "q186_autocorr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"),
          col("value").cast("decimal(18,4)").as("x"))
        .withColumn("y", lead(col("x"), 1).over(w))
        .where(col("y").isNotNull)
      Stats.groupCorr(pairs, Seq("event_type"), "x", "y")
        .orderBy(col("event_type"))
    }),

    // Keyed top-mass cut: per language, the source prefix covering
    // ≥ 9/10 of its characters — nucleus-style stratum pruning; exact
    // integer boundary test, key-partitioned windows only
    "q184_top_mass" -> ((s, dir) => {
      val per = t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("n_chars")).as("chars"))
      Stats.topMassPerKey(per, Seq("lang"), "source", "chars", 9, 10)
        .orderBy(col("lang"), col("source"))
    }),

    // Top-k per key as a BOUNDED AGGREGATE (functions/TopKAgg): the
    // k-row state combines map-side, so the shuffle carries ≤ k rows
    // per partition per key — the window row_number() formulation
    // (q97) shuffles every row. Same output, different 100 TB cost
    "q185_topk_agg" -> ((s, dir) => {
      val tk = udaf(graft.functions.TopKAgg(3))
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"))
        .groupBy(col("l_returnflag"))
        .agg(tk(col("l_extendedprice"), col("id")).as("top"))
        .select(col("l_returnflag"), posexplode(col("top")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("int")
          .as("rnk"), col("col.ord").as("price"), col("col.id").as("id"))
        .orderBy(col("l_returnflag"), col("rnk"))
    }),

    // Pivot: per-user event-type counts widened to one column per type.
    // The value list is EXPLICIT — an unlisted pivot makes Spark run a
    // distinct-collect job at plan time; listing the domain keeps the
    // whole thing one partial+final aggregate
    "q182_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    }),

    // Unpivot (melt): the q182 wide table stacked back to long form via
    // the native stack() generator — scan-stage, no shuffle beyond
    // q182's own aggregate
    "q183_unpivot" -> ((s, dir) => {
      queries("q182_pivot")(s, dir)
        .select(col("user_id"), expr(
          "stack(5, 'click', click, 'error', error, " +
          "'purchase', purchase, 'signup', signup, 'view', view) " +
          "AS (event_type, n)"))
        .where(col("n") > 0)
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Exact global percent rank per lineitem price — the SQL
    // percent_rank() semantics WITHOUT its global one-partition window:
    // distinct-value counts + range-partitioned prefix counts + a
    // value-keyed rank join (the paretoCover/skyline prefix protocol)
    "q180_percent_rank" -> ((s, dir) => {
      Stats.percentRank(
          t(s, dir, "lineitem").select(col("l_orderkey"),
            col("l_linenumber"), col("l_extendedprice")),
          "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"), col("pct_rank"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Nearest as-of join: each error matched to the closest click of
    // the same user within 1 h in EITHER direction (ties backward) —
    // one co-partitioned sort-merge pass, never a theta join
    // (AsOfJoin.asofNearest; 0.63x the time of the two-window union +
    // LOCF form it replaced, at sf0.1)
    "q181_nearest_event" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"),
        col("user_id"), expr("unix_micros(ts)").as("tsu"),
        col("event_type"))
      val errors = e.where(col("event_type") === "error")
        .select(col("user_id"), col("tsu").as("et"),
          col("event_id").as("error_id"))
      val clicks = AsOfJoin.latestPerTs(
        e.where(col("event_type") === "click")
          .select(col("user_id"), col("tsu").as("ct"),
            col("event_id").as("click_id")),
        Seq("user_id"), "ct", "click_id")
      AsOfJoin.asofNearest(errors, clicks, Seq("user_id"), "et", "ct",
          Seq("click_id"), tolerance = 3600L * 1000000L)
        .select(col("error_id"), col("click_id"), col("delta"))
        .orderBy(col("error_id"))
    }),

    // End-to-end entity resolution: typo-model pair generation (q168's
    // symdelete + native DL kernel) → connected-components closure
    // (q73's closure) → one entity id + cluster size per record — the
    // full "dedupe the customer table" pipeline in three composed
    // operators. The typo-pair graph (14,129 edges at sf0.1, 147,543 at
    // the 10× twin) sits under the driver union-find cap.
    "q179_entity_clusters" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val typos = cust.where(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 3000000L).as("c_custkey"),
          concat(substring(col("c_name"), 1, 16),
            substring(col("c_name"), 18, 1),
            substring(col("c_name"), 17, 1)).as("c_name"),
          col("c_nationkey"))
      val uni = cust.unionByName(typos)
      val pairs = NearDup.typoPairs(uni, "c_custkey", "c_name",
        "c_nationkey", maxDist = 1)
      Components.duplicateClusters(uni, pairs, "c_custkey")
        .orderBy(col("c_custkey"))
    }),

    // Reciprocal nearest neighbor (mutual best match) within label
    // blocks: argmax AGGREGATE per vector (max_by over a (sim, -id)
    // struct — no per-pair window), then one self-join of the
    // #vectors-sized best table for the reciprocity cut
    "q177_mutual_best" -> ((s, dir) => {
      Similarity.mutualBestMatch(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label")
        .orderBy(col("a"))
    }),

    // Conversion-latency percentiles per day: backward as-of join with
    // 7-day expiry (q14/q134's operator) feeding exact interpolated
    // percentiles (q33's operator) — the funnel-health composition
    "q178_latency_percentiles" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"),
        col("user_id"), expr("unix_micros(ts)").as("tsu"),
        col("event_type"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu").as("pt"),
          col("event_id").as("purchase_id"))
      val clicks = AsOfJoin.latestPerTs(
        e.where(col("event_type") === "click")
          .select(col("user_id"), col("tsu").as("ct"),
            col("event_id").as("click_id")),
        Seq("user_id"), "ct", "click_id")
      val joined = AsOfJoin.asofBackward(purchases, clicks,
          Seq("user_id"), "pt", "ct", Seq("click_id"),
          tolerance = Some(7L * 86400L * 1000000L))
        .where(col("click_id").isNotNull)
        .select(expr("pt DIV 1000000 DIV 86400").as("day"),
          expr("(pt - asof_ts) DIV 1000000").as("latency_s"))
      Stats.exactPercentiles(joined, Seq("day"), "latency_s",
          Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)))
        .orderBy(col("day"))
    }),

    // 2-D skyline (min price, max size): collapse to max-size-per-
    // price map-side, then a range-partitioned prefix max decides every
    // price in one pass — never the quadratic NOT EXISTS the oracle
    // states as the semantics
    "q176_skyline" -> ((s, dir) => {
      Stats.skyline2d(
          t(s, dir, "part").select(col("p_partkey"),
            col("p_retailprice"), col("p_size")),
          "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),

    // Market-basket association: support/confidence/lift over
    // event-type pairs co-occurring in (user, day) baskets — pair
    // generation equi-joins ON THE BASKET, bounded by items-per-basket
    "q150_basket_lift" -> ((s, dir) => {
      Association.basketLift(
          t(s, dir, "events").select(col("user_id"),
            expr("unix_micros(ts) DIV 1000000 DIV 86400").as("day"),
            col("event_type")),
          Seq("user_id", "day"), "event_type", minBaskets = 50L)
        .orderBy(col("a"), col("b"))
    }),

    // Streaming twin of q148: watermarked hourly windows aggregate
    // OHLC with the SAME ordered-argmin aggregates (min_by/max_by are
    // order-independent state — no sort, no window function, exact
    // under any micro-batch arrival order); the mean rides a DECIMAL
    // sum so accumulation order can't hash-diverge it
    "q151_stream_ohlc" -> ((s, dir) => {
      // complete-mode sink: trailing no-data batch is eviction-only
      // here — skip it (noEvictionDrainSession scaladoc; r18)
      val sd = graft.streaming.Streams.noEvictionDrainSession(s)
      val stream = eventsStream(sd, dir)
      val ev = stream.select(
          eventEpochSeconds("ts").as("sec"),
          col("event_id"), col("value"),
          col("value").cast("decimal(18,4)").as("v4"))
        .withColumn("ets", timestamp_seconds(col("sec")))
      val ord = struct(col("sec"), col("event_id"))
      val agg = ev.withWatermark("ets", "0 seconds")
        .groupBy(window(col("ets"), "1 hour"))
        .agg(
          min_by(col("value"), ord).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), ord).as("close"),
          count(lit(1)).as("volume"),
          round(sum(col("v4")).cast("double") / count(lit(1)), 6)
            .as("mean_value"))
        .select(
          floor(col("window.start").cast("long").cast("double") / 3600)
            .cast("long").as("bar_id"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("mean_value"))
      graft.streaming.Streams.drainToMemory(agg, "graft_q151_ohlc")
        .orderBy(col("bar_id"))
    }),

    // Iterative k-core peel (k=5, 3 rounds) on a sparsified co-order
    // graph where the cascade is real (sf0.01 survivors:
    // 1992→1334→1015→780) — Components/PageRank/LPA's fourth sibling
    "q153_kcore" -> ((s, dir) => {
      val edges = adjacentLineEdges(s, dir)
        .where(col("src") =!= col("dst") &&
          (col("src") + col("dst")) % 5 === 0)
      Graph.kCorePeel(edges, "src", "dst", k = 5, rounds = 3)
        .orderBy(col("id"))
    }),

    // Winsorized per-type value report: exact p05/p95 bounds clamp the
    // tails; the before/after means and clamp counts summarize the
    // treatment — bounds broadcast back, the clamp is scan-stage
    "q154_winsorize" -> ((s, dir) => {
      Stats.winsorize(t(s, dir, "events"), Seq("event_type"), "value",
          0.05, 0.95)
        .groupBy(col("event_type"))
        .agg(
          count(when(col("value") < col("_lo"), lit(1))).as("n_low"),
          count(when(col("value") > col("_hi"), lit(1))).as("n_high"),
          round(avg(col("value")), 6).as("mean_before"),
          round(avg(col("wins")), 6).as("mean_after"))
        .orderBy(col("event_type"))
    }),

    // Inter-source n-gram contamination matrix: Jaccard of each source
    // PAIR's distinct 3-shingle sets — quadratic only in
    // sources-per-shingle, with a maxDf cap (q62's policy at source
    // granularity) bounding the all-source boilerplate shingles that
    // would otherwise pay #sources²/2 fan-in at thousands of sources;
    // set sizes join back from a 20-row broadcast aggregate
    "q155_source_overlap" -> ((s, dir) => {
      NearDup.sourceOverlapMatrix(t(s, dir, "documents"),
          "source", "text", n = 3, maxDf = 15)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Entry-path mining: each (user, day) session's first 3 event
    // types form a journey prefix; frequency per prefix — per-session
    // state is a bounded sorted list (3 kept), one shuffle per level
    "q152_journey_paths" -> ((s, dir) => {
      val sessions = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 1000000 DIV 86400").as("day"),
          col("ts"), col("event_id"), col("event_type"))
        .groupBy(col("user_id"), col("day"))
        .agg(concat_ws(">",
          transform(
            slice(array_sort(collect_list(struct(col("ts"),
              col("event_id"), col("event_type")))), 1, 3),
            st => st.getField("event_type"))).as("path"))
      sessions.groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("path"))
    }),

    // Streaming burst debounce: q137's semantics with ONE timestamp of
    // state per (user,type) key — kept event ids must hash-match the
    // batch window form
    "q139_stream_debounce" -> ((s, dir) => {
      val spark2 = s
      import spark2.implicits._
      val stream = eventsStream(s, dir)
      val evs = stream.select(
          concat(col("user_id").cast("string"), lit("|"),
            col("event_type")).as("key"),
          eventTimestamp("ts").as("ts"),
          col("event_id").as("tie"))
        .as[graft.streaming.StatefulFunnel.KeyedEvent]
      val heads = graft.streaming.StatefulFunnel
        .debounce(evs, 86400L * 1000000L)
      graft.streaming.Streams
        .drainToMemory(heads.toDF(), "graft_q139_debounce", "append")
        .select(col("tie").as("event_id"))
        .orderBy(col("event_id"))
    }),

    // LOCF gap fill: values nulled on %3 event ids repair to the
    // latest prior non-null per user (deterministic (ts, id) order) —
    // the sensor-dropout feature-pipeline repair
    "q133_locf" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("tsu"),
          when(col("event_id") % 3 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("v"))
      Funnel.locf(ev, Seq("user_id"), Seq(col("tsu"), col("event_id")),
          "v", "v_filled")
        .select(col("event_id"), col("v").isNull.as("was_gap"),
          col("v_filled"))
        .orderBy(col("event_id"))
    }),

    // Last-touch attribution: each purchase credits the user's latest
    // click within 24 h (backward as-of join with expiry — q14's
    // operator composed into the marketing-analytics shape)
    "q134_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("tsu", expr("unix_micros(ts)"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu").as("pts"),
          col("event_id").as("purchase_id"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tsu").as("cts"),
          col("event_id").as("click_id"))
      AsOfJoin.asofBackward(purchases, clicks, Seq("user_id"),
          "pts", "cts", Seq("click_id"),
          tolerance = Some(86400L * 1000000L))
        .select(col("purchase_id"), col("value"), col("click_id"))
        .orderBy(col("purchase_id"))
    }),

    // Systematic (every-k-th) sample in deterministic md5 order: the
    // eval-set carve-out that is provably spread across the corpus —
    // rides the distributed global-index operator (q77's machinery)
    "q131_systematic_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("_h", md5(concat(lit("sys:"),
          col("doc_id").cast("string"))))
      Ordering.withGlobalIndex(docs, Seq(col("_h")), "idx")
        .where(col("idx") % 10 === 1) // idx is 1-based; keep 1,11,21,…
        .select(col("doc_id"), col("idx"))
        .orderBy(col("doc_id"))
    }),

    // Time-to-convert distribution: per-user seconds from first view to
    // the funnel-completing purchase, bucketed into hour-wide bands —
    // the latency histogram behind q125's counts
    "q132_time_to_convert" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_t", eventTimestamp("ts"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_t")).as("t1"))
      val p = ev.where(col("event_type") === "purchase")
        .join(v, "user_id")
        .where(col("ts_t") > col("t1"))
        .groupBy(col("user_id"))
        .agg(min(col("ts_t")).as("tp"), min(col("t1")).as("t1"))
      p.select(expr("(unix_micros(tp) - unix_micros(t1)) DIV 3600000000")
          .as("hour_band"))
        .groupBy(col("hour_band"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("hour_band"))
    }),

    // Streaming funnel: q125's semantics as per-user
    // flatMapGroupsWithState over the event stream — counts must equal
    // the batch funnel exactly. The out-of-order-tolerant variant: no
    // delivery-order contract (per-step candidate state + revision log;
    // final counts come from each user's last revision), so reordered
    // micro-batches cannot corrupt conversions (StatefulFunnelSpec
    // pins the shuffled-delivery and retraction cases)
    "q130_stream_funnel" -> ((s, dir) => {
      val spark2 = s
      import spark2.implicits._
      val stream = eventsStream(s, dir)
      val steps = Seq("view", "click", "purchase")
      val stepCol = steps.zipWithIndex.foldLeft(lit(-1)) {
        case (acc, (st, i)) =>
          when(col("event_type") === st, lit(i)).otherwise(acc)
      }
      val evs = stream.select(col("user_id").as("key"),
          eventTimestamp("ts").as("ts"), stepCol.as("step"))
        .where(col("step") >= 0)
        .as[graft.streaming.StatefulFunnel.StepEvent]
      val revs = graft.streaming.StatefulFunnel
        .trackUnordered(evs, steps.length, 86400L)
      val fin = graft.streaming.Streams
        .drainToMemory(revs.toDF(), "graft_q130_funnel", "append")
        .groupBy(col("key"))
        .agg(max_by(col("reached"), col("rev")).as("reached"))
        .where(col("reached") >= 1)
      steps.zipWithIndex.map { case (st, i) => (i + 1, st) }
        .toDF("step_idx", "step")
        .join(fin.select(explode(sequence(lit(1), col("reached")))
            .as("step_idx"))
          .groupBy(col("step_idx")).agg(count(lit(1)).as("n")),
          Seq("step_idx"), "left")
        .select(col("step_idx"), col("step"),
          coalesce(col("n"), lit(0L)).as("n_users"))
        .orderBy(col("step_idx"))
    }),

    // Embedding-space decontamination: drop corpus vectors ≥ 0.35
    // cosine to any benchmark vector (vec_id %40 == 0 plays the bench)
    // within shared hyperplane-LSH buckets — the paraphrase-leakage
    // counterpart of q66's verbatim n-gram decontamination
    "q129_semantic_decontaminate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticDecontaminate(
          emb.where(col("vec_id") % 40 =!= 0),
          emb.where(col("vec_id") % 40 === 0),
          "vec_id", "embedding", dim = 64, bits = 32, bandBits = 8,
          minCosine = 0.35)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // Incremental aggregate maintenance: per-(source,lang) stats built
    // from the even half (the "state"), merged with the odd half's
    // partial aggregates — must equal the batch recompute over ALL docs
    // (the oracle) without ever rescanning history
    "q127_agg_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def aggOf(df: DataFrame): DataFrame =
        df.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_chars")).as("n_chars_sum"))
      Snapshot.mergeAggregates(
          aggOf(docs.where(col("doc_id") % 2 === 0)),
          aggOf(docs.where(col("doc_id") % 2 === 1)),
          Seq("source", "lang"), Seq("n_docs", "n_chars_sum"))
        .orderBy(col("source"), col("lang"))
    }),

    // A/B experiment report: users hash-split 50/50 (md5 buckets), arm
    // means/variances + Welch t on purchase value in ONE ungrouped
    // aggregate pass (conditional aggs — no per-arm join)
    "q128_ab_report" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_type") === "purchase")
      val arm = when(substring(md5(concat(lit("ab:"),
          col("user_id").cast("string"))), 1, 2) < "80", "A")
        .otherwise("B")
      val a = when(arm === "A", col("value"))
      val b = when(arm === "B", col("value"))
      ev.agg(count(a).as("n_a"), count(b).as("n_b"),
          avg(a).as("_ma"), avg(b).as("_mb"),
          var_samp(a).as("_va"), var_samp(b).as("_vb"))
        .select(col("n_a"), col("n_b"),
          round(col("_ma"), 6).as("mean_a"),
          round(col("_mb"), 6).as("mean_b"),
          round((col("_ma") - col("_mb")) /
            sqrt(col("_va") / col("n_a") + col("_vb") / col("n_b")), 4)
            .as("t_stat"))
    }),

    // Record linkage: blocked edit-distance matching over customer
    // names (typo'd mirrors injected on %15 keys — 3rd char dropped);
    // levenshtein is engine-exact so the oracle is bit-for-bit
    "q124_entity_resolution" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val typos = cust.where(col("c_custkey") % 15 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(substring(col("c_name"), 1, 2),
            expr("substring(c_name, 4)")).as("c_name"),
          col("c_nationkey"))
      NearDup.editDistancePairs(cust.unionByName(typos), "c_custkey",
          "c_name", "c_nationkey", 1)
        .orderBy(col("a"), col("b"))
    }),

    // Ordered-step conversion funnel: view → click → purchase within
    // 1 day of the first view, earliest-completion semantics — one
    // user-keyed aggregation per step, never an event self-join
    "q125_funnel" -> ((s, dir) => {
      Funnel.conversion(
          t(s, dir, "events").withColumn("ts_t", eventTimestamp("ts")),
          "user_id", "ts_t", "event_type",
          Seq("view", "click", "purchase"), windowSec = 86400L)
        .orderBy(col("step_idx"))
    }),

    // Weekly retention cohorts: users bucketed by first-event week ×
    // weeks-since-cohort activity counts (Monday-anchored date_trunc,
    // integer day arithmetic — no epoch-fraction parity traps)
    "q126_cohorts" -> ((s, dir) => {
      Funnel.weeklyCohorts(
          t(s, dir, "events").withColumn("ts_t", eventTimestamp("ts")),
          "user_id", "ts_t")
        .select(col("cohort_week").cast("timestamp").as("cohort_week"),
          col("week_offset"), col("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Codepoint-entropy gibberish screen (native kernel): deterministic
    // low-entropy damage injected on %13 ids ('aaaa…' suffix) must pull
    // those docs' entropy measurably down (log2, matches DuckDB entropy)
    "q121_char_entropy" -> ((s, dir) => {
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 13 === 0,
            concat(lit(" "), repeat(lit("a"), 200)))
          .otherwise(lit(""))).as("text"))
      injected.select(col("doc_id"),
          round(TextAnalysis.charEntropy(col("text")), 6)
            .as("entropy_bits"))
        .orderBy(col("doc_id"))
    }),

    // Domain-shift report: per-source KL divergence of the token
    // distribution from the corpus mix — the contamination/register
    // screen over sources, one tokenize pass
    "q122_source_kl" -> ((s, dir) => {
      TextAnalysis.sourceTokenKl(t(s, dir, "documents"), "source",
          "text")
        .select(col("source"), col("n_tokens"),
          round(col("kl"), 6).as("kl"))
        .orderBy(col("source"))
    }),

    // Zipf rank-frequency slope per source: log-log regression of token
    // frequency on rank — natural text ≈ −1, templated corpora flatten
    "q123_zipf_slope" -> ((s, dir) => {
      TextAnalysis.zipfSlope(t(s, dir, "documents"), "source", "text")
        .select(col("source"), col("n_vocab"),
          round(col("slope"), 6).as("slope"))
        .orderBy(col("source"))
    }),

    // Distribution-matching resample: thin src1 so its length histogram
    // (100-char buckets) matches src0's shape — per-bucket md5-uniform
    // keep rates, binding bucket kept whole (the "make the crawl look
    // like the curated set" resampler)
    "q120_dist_match" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.matchDistribution(
          docs.where(col("source") === "src1")
            .select(col("doc_id"), col("n_chars")),
          docs.where(col("source") === "src0"),
          "doc_id", floor(col("n_chars") / 100).cast("long"), "dm")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Unicode hygiene: NFC + diacritic fold as native scan-stage
    // kernels — injected decomposed sequences (é on %4 ids, ü on %6)
    // must collapse to the composed form (n_composed counts the marks
    // absorbed); ASCII rows ride the zero-copy fast path
    "q117_normalize" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 0, lit("Cafe\u0301 "))
            .otherwise(lit("")),
          coalesce(col("text"), lit("")),
          when(col("doc_id") % 6 === 0, lit(" u\u0308ber"))
            .otherwise(lit(""))).as("text"))
      injected.select(col("doc_id"),
          md5(nfcNormalize(col("text"))).as("nfc_md5"),
          md5(stripAccents(nfcNormalize(col("text")))).as("folded_md5"),
          (length(col("text")) - length(nfcNormalize(col("text"))))
            .cast("long").as("n_composed"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-unigram "perplexity" filter (CCNet shape): per-doc mean
    // token log-probability under the corpus's own unigram model —
    // rare-token soup scores low, fluent stopword-y text high
    "q118_unigram_logprob" -> ((s, dir) => {
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id",
          "text")
        .select(col("doc_id"), col("n_toks"),
          round(col("mean_logp"), 6).as("mean_logp"))
        .orderBy(col("doc_id"))
    }),

    // Robust outlier gate: per-event-type median/MAD filter — the
    // heavy-tail-safe metric-anomaly screen (mean/stddev z-scores get
    // dragged by the very outliers they hunt)
    "q116_mad_outliers" -> ((s, dir) => {
      Stats.robustOutliers(
          t(s, dir, "events").select(col("event_id"), col("event_type"),
            col("value")),
          Seq("event_type"), "value", factor = 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"))
        .orderBy(col("event_id"))
    }),

    // Token-budget mix assembly: keep docs in deterministic md5 order
    // until the cumulative token count would exceed the budget — exact
    // (the oracle is one global window cumsum), distributed via the
    // 65,536-bucket prefix decomposition
    "q107_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.tokenBudgetSample(docs, "doc_id",
        TextAnalysis.tokenCount(coalesce(col("text"), lit(""))),
        budget = 6000L)
        .orderBy(col("doc_id"))
    }),

    // MERGE/upsert: advance the corpus one version by changeset (q99's
    // inverse) — %5 docs upserted with edited text, %7 docs deleted,
    // %11 docs re-inserted under new ids; output is the next version's
    // content fingerprint table
    "q106_apply_changeset" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val up = base
        .where(col("doc_id") % 5 === 0 && col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" [v2]")).as("text"),
          lit("upsert").as("op"))
      val del = base.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("source"),
          lit(null).cast("string").as("text"), lit("delete").as("op"))
      val ins = base.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("srcnew").as("source"),
          concat(lit("brand new doc "),
            col("doc_id").cast("string")).as("text"),
          lit("upsert").as("op"))
      Snapshot.applyChangeset(base,
          up.unionByName(del).unionByName(ins), Seq("doc_id"), "op")
        .select(col("doc_id"), col("source"),
          md5(coalesce(col("text"), lit(""))).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // ExactSubstr-style repeated spans: maximal cross-document repeated
    // token extents at 10-gram resolution (Lee et al. ACL 2022 made
    // distributed — gram-DF marks + per-doc interval coalescing)
    "q105_repeated_spans" -> ((s, dir) => {
      NearDup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 10, minDf = 2)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // C4-style line-level boilerplate removal. The synthetic text is
    // newline-free, so the query INJECTS the line structure (the q75
    // PII pattern — identical injection in both engines): a header
    // line shared by every doc (df = all ≥ 50 → boilerplate) and a
    // 'ref block k' line shared by 1/50th of docs (df below threshold
    // at sf0.01 → kept). Every doc must lose exactly the header.
    "q104_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("join our mailing list today\n"),
            coalesce(col("text"), lit("")),
            lit("\nref block "),
            (col("doc_id") % 50).cast("string")).as("text"))
      TextAnalysis
        .removeBoilerplateLines(docs, "doc_id", "text", minDocs = 50)
        .orderBy(col("doc_id"))
    }),

    // Graded contamination: per-doc overlap RATE with the benchmark
    // grams (q66's binary rule made a report — drop/audit/keep bands
    // are a downstream filter on contamination_rate)
    "q103_contamination_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      NearDup.contaminationScore(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), "doc_id", "text", 5)
        .orderBy(col("doc_id"))
    }),

    "q66_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 20 === 0)
      val train = docs.where(col("doc_id") % 20 =!= 0)
      val clean = NearDup.decontaminate(train, bench, "doc_id", "text", 5)
      val contam = NearDup.contamination(train, bench, "doc_id", "text", 5)
      clean.select(col("doc_id"), lit(0L).as("n_shared_grams"),
          lit(true).as("kept"))
        .unionByName(contam.select(col("doc_id"), col("n_shared_grams"),
          lit(false).as("kept")))
        .orderBy(col("doc_id"))
    }),

    // Duplicate-class closure: the q21 pair emitter finds EDGES; the
    // curation decision needs the transitive closure (A≈B≈C ⇒ one
    // class). The 0.01 stress threshold makes a chain-shaped pair graph
    // (16,411 edges at sf0.1, 164,110 at the 10× twin), still under the
    // driver union-find cap, so it closes on the driver; larger graphs
    // run star contraction. Every doc gets its class representative
    // (min reachable id) + class size; "keep one per class" downstream
    // is doc_id === component.
    "q73_dup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (pairs, handle) = NearDup.jaccardPairsWithHandle(docs, "doc_id",
        "text", "source", 3, 0.01)
      // connectedComponents eagerly checkpoints its labels, so nothing
      // in the returned frame references the shingle cache — release it
      // here instead of leaning on Bench/Verify's clearCache
      val out = Components.duplicateClusters(docs, pairs, "doc_id")
      handle.release()
      out.orderBy(col("doc_id"))
    }),

    // Leakage-safe split over the strict-threshold closure: near-dup
    // CLASSES are the split unit, so a training doc's 98%-copy cannot
    // land in eval. 200/26/30 of 256 ≈ 78/10/12%, keyed on md5 of the
    // class representative — deterministic on any engine.
    "q102_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (pairs, handle) = NearDup.jaccardPairsWithHandle(docs, "doc_id",
        "text", "source", 3, 0.5)
      val out = Sampling.leakageSafeSplit(docs, pairs, "doc_id",
        train256 = 200, val256 = 26)
      handle.release()
      out.orderBy(col("doc_id"))
    }),

    // Same closure at the curation-realistic threshold (0.5): the pair
    // graph is a few clique-shaped classes (7 edges at sf0.1, 70 at the
    // 10× twin), closed on the driver by union-find like q73's.
    "q74_dup_clusters_strict" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (pairs, handle) = NearDup.jaccardPairsWithHandle(docs, "doc_id",
        "text", "source", 3, 0.5)
      val out = Components.duplicateClusters(docs, pairs, "doc_id")
      handle.release()
      out.orderBy(col("doc_id"))
    }),

    // PII scrub: counts per type on the original text, then redaction
    // in precedence order — the curation step every shipped training
    // set needs. The synthetic corpus carries no PII, so the query
    // injects deterministic emails / IPv4s / phone numbers first (the
    // same doc_id arithmetic in Spark and the oracle); the scrub itself
    // (TextAnalysis.redactPii) is what's under test. Scan-stage only.
    "q75_pii_redact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val injected = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example"),
              col("doc_id") % 7, lit(".com now")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(" node 10."), col("doc_id") % 256, lit("."),
              (col("doc_id") * 7) % 256, lit("."),
              col("doc_id") % 200 + 1, lit(" responded")))
          .otherwise(
            concat(lit(" call "), col("doc_id") % 900 + 100, lit("-"),
              (col("doc_id") * 3) % 900 + 100, lit("-"),
              col("doc_id") % 9000 + 1000, lit(" today")))).as("text"))
      TextAnalysis.redactPii(injected, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Corpus vocabulary: top-k tokens by total frequency with document
    // frequency — tokenizer-training input. One hash aggregation (map-
    // side combined) + TakeOrderedAndProject; never a full vocab sort.
    "q76_vocab" -> ((s, dir) => {
      TextAnalysis.vocabulary(t(s, dir, "documents"), "doc_id", "text", 50)
    }),

    // Deterministic training shuffle: order the corpus by a seeded
    // keyed hash and assign a stable 1-based global position — WITHOUT
    // the single-partition row_number() window (range sort +
    // zipWithIndex stay distributed; see Ordering.withGlobalIndex).
    "q77_train_shuffle" -> ((s, dir) => {
      val keyed = t(s, dir, "documents").select(col("doc_id"),
        md5(concat(lit("graft42:"), col("doc_id"))).as("skey"))
      Ordering.withGlobalIndex(keyed, Seq(col("skey")), "shuffle_pos")
    }),

    // Mixture rebalancing: sample the corpus to a 6:3:1 source mixture
    // (other sources dropped) — per-source thresholds derived from one
    // tiny count aggregate with pure integer arithmetic, then the same
    // deterministic scan-stage hash predicate as q37/q52. With roughly
    // equal-sized sources the LARGEST-weight source (src0) binds: its
    // n·10/6 is the smallest target, so src0's threshold computes to
    // ~256 ("keep whole") — exactly 256 only when 10·n divides by 6;
    // otherwise the integer threshold floors to 255 and src0 sheds
    // ~1/256 of its rows (both engines apply the same floor, so the
    // oracle agrees either way).
    "q79_mixture_sample" -> ((s, dir) => {
      Sampling.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 6L, "src1" -> 3L, "src2" -> 1L))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Model-based quality filter: a pre-trained logistic regression
    // over the rule-based features (weights as parameters; training is
    // offline) — the fastText-style classifier step. Inference is pure
    // scan-stage arithmetic; kept = score ≥ 0.5 on the ROUNDED score so
    // the cut is engine-exact.
    "q82_quality_model" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.logisticQualityScore(col("text")).as("q_score"))
        .withColumn("kept", col("q_score") >= 0.5)
        .orderBy(col("doc_id"))
    }),

    // Streaming near-dup ADMISSION GATE: incoming docs (stream) are
    // admitted only if their simhash matches the already-accepted
    // corpus (doc_id % 10 == 0 plays the index) in none of the 4
    // bands. Zero streaming state: a scan-stage signature + 4
    // broadcast anti-joins whose build sides are bounded at 64Ki rows
    // by the 16-bit band space.
    "q83_stream_dedup_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val index = docs.where(col("doc_id") % 10 === 0)
      val stream = graft.streaming.Streams.fileSource(s, dir, docs.schema,
          globFilter = Some("documents.parquet"))
        .where(col("doc_id") % 10 =!= 0)
      val novel = NearDup.simhashNoveltyGate(stream, index,
          "doc_id", "text")
        .select(col("doc_id"), col("simhash_hex"))
      graft.streaming.Streams.drainToMemory(novel, "graft_q83_gate", "append")
        .orderBy(col("doc_id"))
    }),

    // One-pass numeric profiling: per-column nulls / exact distincts /
    // min / max / mean in a single aggregate over a single scan (the
    // multi-count-distinct Expand is the documented exactness price;
    // approx_count_distinct is the 100 TB swap).
    "q89_profile" -> ((s, dir) => {
      Profile.profileNumeric(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("column"))
    }),

    // Approx profiling — the 100 TB default: approx_count_distinct
    // (HyperLogLog++) replaces the exact multi-distinct, so the
    // OPERATOR's plan has NO Expand and the scan is read once
    // regardless of column count (spec-pinned on the operator plan in
    // PlanSpec). This VALIDATION query proves the estimates: one
    // fused aggregate computes the exact profile AND the HLL estimate
    // (the HLL rides q89's Expand pass for free — two separate passes
    // measured 3.7× the old cost), and the oracle hashes the exact
    // columns plus nd_ok = |HLL − exact| ≤ max(3·rsd·exact, 16) per
    // column (3σ bound, absolute floor for tiny cardinalities like
    // l_quantity's 50).
    "q90_profile_approx" -> ((s, dir) => {
      Profile.profileNumericValidated(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("column"))
    }),

    // Equi-width histogram — the distribution report behind every data
    // sheet: one width_bucket projection + one map-side-combined count
    // (both engines share PostgreSQL bucket semantics, so the result
    // is integer-exact). Pair with q89/q90 min/max to derive bounds.
    "q100_histogram" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(width_bucket(col("l_quantity"), lit(1d), lit(51d),
          lit(10)).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("bucket"))
    }),

    // Snapshot diff — "what changed between two corpus versions": a
    // simulated refresh (drop %7, edit %5, add %9 under new ids)
    // diffed against the original by one null-safe full-outer join;
    // change detection rides the join projection. Oracle replays the
    // refresh + FULL OUTER JOIN.
    "q99_snapshot_diff" -> ((s, dir) => {
      val old = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val changed = old.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")))
      // added ids are NEGATED (-id - 1): disjoint from any real
      // doc_id at any scale factor — a fixed offset would collide
      // once the corpus outgrows it, duplicating a key in the new
      // snapshot and making the tie order oracle-unstable
      val added = old.where(col("doc_id") % 9 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("text"),
          col("source"))
      Snapshot.diff(old, changed.unionByName(added), Seq("doc_id"),
          Seq("text", "source"))
        .where(col("status") =!= "unchanged")
        .orderBy(col("doc_id"))
    }),

    // Top-k PER GROUP with rank pushdown: Catalyst rewrites the
    // rank-filter into WindowGroupLimit — a map-side per-partition
    // top-k heap, so the window exchange carries ≤ k rows per
    // (partition × key), not the table (plan-pinned).
    "q97_topk_per_group" -> ((s, dir) => {
      Ordering.topKPerGroup(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderpriority"), col("o_totalprice")),
          Seq("o_orderpriority"), 3,
          Seq(desc("o_totalprice"), asc("o_orderkey")))
        .orderBy(col("o_orderpriority"), col("rnk"))
    }),

    // Declarative data-quality constraint checks — the expectations
    // gate before a table ships: all constraints evaluate in ONE
    // aggregate over ONE scan (conditional counts; no Expand), NULL
    // predicate = violation.
    "q98_quality_checks" -> ((s, dir) => {
      Profile.checkConstraints(t(s, dir, "lineitem"), Seq(
          "discount_le_cap" -> (col("l_discount") <= 0.1),
          "price_positive" -> (col("l_extendedprice") > 0),
          "quantity_in_range" -> col("l_quantity").between(1, 50),
          "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R")))
        .orderBy(col("constraint"))
    }),

    // String-column profiling — the text twin of q89 (a corpus report
    // needs both): nulls / empties / exact distincts / char-length
    // stats in one aggregate over one scan. Same exact-vs-approx
    // distinct trade as q89/q90.
    "q95_profile_text" -> ((s, dir) => {
      Profile.profileString(t(s, dir, "documents"),
          Seq("text", "lang", "source"))
        .orderBy(col("column"))
    }),

    // Streaming FILE sink: stream → filter/project → checkpointed
    // parquet output (the production shape; every other streaming row
    // drains to the memory sink). The re-read of the committed part
    // files must equal the batch filter — that equality IS the
    // exactly-once sink contract.
    "q88_stream_file_sink" -> ((s, dir) => {
      val out = scratch(s, "q88_out")
      val ckpt = scratch(s, "q88_ckpt")
      // fresh drain every invocation: with the checkpoint left in
      // place, a re-run is a committed no-op (exactly-once — the spec
      // asserts that path) and a benchmark rep would measure nothing
      Seq(out, ckpt).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.delete(hp, true)
      }
      // value > 50 keeps ~37% of events at every SF (sf0.01: 3,665 of
      // 10,000 rows) — a threshold high enough to prove the filter
      // filters and low enough that the oracle compares real data (the
      // previous value > 500 exceeded the data's max ⇒ 0-vs-0 rows, a
      // vacuous exactly-once check)
      val stream = eventsStream(s, dir)
        .where(col("value") > 50)
        .select(col("event_id"), col("user_id"),
          round(col("value"), 6).as("value"))
      graft.streaming.Streams.awaitDrain(
        graft.streaming.Streams.drainToFiles(stream, out, ckpt).start())
      s.read.parquet(out).orderBy(col("event_id"))
    }),

    // Z-order (Morton) interleave key — the clustering key behind
    // multi-column file skipping (see sources/Layout.scala; the layout
    // property itself is spec-asserted on real files). The oracle
    // replays the same unrolled bit arithmetic.
    "q87_zorder" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          graft.sources.Layout.zValue2(col("user_id"),
            col("event_id") % 1024).as("zval"))
        .orderBy(col("event_id"))
    }),

    // Delimited-text (TSV) round-trip — the reference's own sink shape
    // (its VCF/SAM outputs are tab-separated text): headerless write
    // paired with the schema-carrying lenient reader; must be lossless
    // and corrupt-free.
    "q86_tsv_sink" -> ((s, dir) => {
      val path = scratch(s, "q86_tsv")
      val proj = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.sources.Sinks.writeDelimited(proj, path)
      graft.sources.Sinks.readLenientCsv(s, proj.schema, path)
        .where(col("_corrupt_record").isNull).drop("_corrupt_record")
        .orderBy(col("doc_id"))
    }),

    // ORC round-trip: the second columnar format (built into Spark) —
    // same writer surface as parquet via writeSingleSorted(format=).
    // The re-read must be lossless vs the directly-computed oracle.
    "q84_orc_sink" -> ((s, dir) => {
      val path = scratch(s, "q84_orc")
      val proj = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.sources.Sinks.writeSingleSorted(proj, Seq("doc_id"), path,
        "orc")
      s.read.orc(path).orderBy(col("doc_id"))
    }),

    // Small-file compaction: fragment a projection into 16 files, then
    // compact to target size (one round-robin shuffle sized by a
    // filesystem probe) — the maintenance pass long-lived ingestion
    // layouts need. Lossless re-read is the oracle; the file-count drop
    // is spec-asserted.
    "q85_compact" -> ((s, dir) => {
      val frag = scratch(s, "q85_frag")
      val out = scratch(s, "q85_out")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .repartition(16)
        .write.mode("overwrite").parquet(frag)
      graft.sources.Sinks.compact(s, frag, out,
        targetFileBytes = 64L << 20)
      s.read.parquet(out).orderBy(col("doc_id"))
    }),

    // XML export → re-import round-trip on Spark 4's NATIVE xml source
    // (no external connector): the interchange format enterprise
    // document dumps still arrive in. Lossless re-read is the oracle
    // (same contract as the orc/tsv/jsonl round-trips). shards = 0:
    // one file per input partition, parallel writers — the re-read +
    // orderBy is shard-agnostic, so the round-trip needs no coalesce.
    "q285_xml_sink" -> ((s, dir) => {
      val path = scratch(s, "q285_xml")
      val proj = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.sources.Sinks.writeXml(proj, path, rowTag = "doc")
      s.read.option("rowTag", "doc").format("xml").load(path)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("source"), col("n_tokens").cast("int").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Semi-structured ingestion through the VARIANT type (Spark 4):
    // JSON metadata sidecars parse once into variant and are read with
    // typed variant_get paths (including array indexing) — the modern
    // open-table semi-structured story, vs re-parsing JSON strings per
    // field. Numeric payloads ride as exact integers (floor-of-cents),
    // so both engines construct and extract identical values.
    "q286_variant_json" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("graft_ev_q286")
      s.sql(
        """WITH j AS (
             SELECT parse_json(concat(
               '{"u":', CAST(user_id AS STRING),
               ',"t":"', event_type,
               '","cents":', CAST(CAST(floor(value * 100) AS BIGINT)
                 AS STRING),
               ',"tags":["pipeline","', event_type, '"]}')) AS meta
             FROM graft_ev_q286),
           x AS (
             SELECT variant_get(meta, '$.u', 'bigint') AS u,
                    variant_get(meta, '$.t', 'string') AS t,
                    variant_get(meta, '$.cents', 'bigint') AS cents,
                    variant_get(meta, '$.tags[1]', 'string') AS tag1
             FROM j)
           SELECT t AS event_type, count(*) AS n_rows,
                  sum(u) AS sum_user, sum(cents) AS sum_cents,
                  count(CASE WHEN t = tag1 THEN 1 END) AS tag_match
           FROM x GROUP BY t ORDER BY t""")
    }),

    // JSONL export → schema-enforced re-import round-trip: the
    // interchange format training sets actually ship in. Four fixed
    // shards; the re-read must be lossless (oracle = the projection
    // computed directly) and corrupt-free.
    "q81_jsonl_sink" -> ((s, dir) => {
      val path = scratch(s, "q81_jsonl")
      val proj = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.sources.Sinks.writeJsonl(proj, path, shards = 4)
      graft.sources.Sinks.readJsonl(s, proj.schema, path)
        .where(col("_corrupt_record").isNull).drop("_corrupt_record")
        .orderBy(col("doc_id"))
    }),

    // Fractional upsampling: src0 repeated 2.5× (5/2) — every doc twice
    // plus the hash-selected half a third time, deterministically. The
    // epochs>1 half of mixture building (q79 downsamples; this
    // upsamples); scan-stage explode, no shuffle.
    "q80_upsample" -> ((s, dir) => {
      Sampling.upsample(
          t(s, dir, "documents").where(col("source") === "src0")
            .select(col("doc_id")),
          "doc_id", 5, 2)
        .orderBy(col("doc_id"), col("copy_id"))
    }),

    // STREAM-STREAM watermarked interval join: even events (stream A)
    // pair with odd events (stream B) of the same user within 10
    // minutes. The event-time band in the join condition is what lets
    // Spark evict buffered state at the watermark — O(in-flight rows),
    // not O(stream history). Single-file AvailableNow drain ⇒ the
    // result equals the batch join, which is the oracle.
    "q78_stream_join" -> ((s, dir) => {
      // INNER stream-stream join: matches emit in the data batches;
      // the trailing no-data batch only evicts buffered state (only
      // OUTER joins emit there — q205 keeps it). Skip it (r18,
      // noEvictionDrainSession scaladoc)
      val sd = graft.streaming.Streams.noEvictionDrainSession(s)
      def src() = eventsStream(sd, dir)
      val a = src().where(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id").as("a_id"),
          eventTimestamp("ts").as("a_ts"))
      val b = src().where(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_id").as("b_id"),
          eventTimestamp("ts").as("b_ts"))
      val joined = graft.streaming.Streams.intervalJoin(a, b,
          Seq("user_id"), "a_ts", "b_ts", "10 minutes", "1 minute")
        .select(col("user_id"), col("a_id"), col("b_id"))
      graft.streaming.Streams
        .drainToMemory(joined, "graft_q78_join", "append")
        .orderBy(col("user_id"), col("a_id"), col("b_id"))
    }),

    // Dedup modality 5: embedding-cosine near-duplicates, IVF-cell
    // blocked (never all-pairs — see Similarity.cosineNearDupPairs).
    // Oracle reproduces the cell assignment + threshold in SQL.
    "q50_cosine_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineNearDupPairs(emb, emb.where(col("vec_id") < 8),
          "vec_id", "embedding", 0.35)
        .orderBy(col("a"), col("b"))
    }),

    // Dedup modality 5b: embedding near-dup by RANDOM-HYPERPLANE LSH —
    // q50's IVF blocking needs a centroid table collected at the
    // driver; hyperplane signatures are md5-derived CONSTANTS, so this
    // path has no driver-side data step at all. 32 sign bits, 4 bands
    // of 8; candidates scored with the exact cosine (precision 1,
    // recall = the LSH trade). Oracle replays the hyperplanes, the
    // sign bands, and the exact in-band cosine in SQL.
    "q91_hyperplane_lsh" -> ((s, dir) => {
      Similarity.hyperplaneLshPairs(t(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, bits = 32, bandBits = 8,
          minCosine = 0.35)
        .orderBy(col("a"), col("b"))
    }),

    // INCREMENTAL corpus dedup — "new crawl vs existing corpus": the
    // accepted corpus's fingerprints live in a bucketed table; the new
    // batch dedups in-batch and anti-joins the index with ZERO hash
    // exchanges (both sides bucketed on fp — q45's pattern applied to
    // dedup; plan-pinned). Oracle recomputes the same admission over
    // the union in SQL.
    "q92_incremental_dedup" -> ((s, dir) => {
      import graft.operators.TextAnalysis.fingerprint
      val d = t(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      graft.sources.Sinks.writeBucketed(
        d.where(col("doc_id") % 10 === 0).select(col("fp")),
        Seq("fp"), 8, "graft_q92_index")
      graft.sources.Sinks.writeBucketed(
        d.where(col("doc_id") % 10 =!= 0),
        Seq("fp"), 8, "graft_q92_batch")
      Dedup.incrementalDedup(s, "graft_q92_batch", "graft_q92_index",
          "doc_id", "fp")
        .orderBy(col("doc_id"))
    }),

    // END-TO-END CURATION PIPELINE — the "corpus in, training set out"
    // composition the individual operators exist for: PII-bearing text
    // (q75's injection) → exact dedup (min-id per fingerprint) →
    // model-based quality gate (q82's scorer, ≥ 0.5) → deterministic
    // 50% hash sample (q37's predicate) → PII redaction + token count
    // of the SHIPPED (redacted) text. One fingerprint-weight shuffle +
    // one semi-join; every other stage is scan-stage column arithmetic
    // — the whole pipeline is two exchanges at any scale. Oracle
    // replays all five stages in one chained-CTE SQL.
    "q94_curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val injected = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example"),
              col("doc_id") % 7, lit(".com now")))
          .when(col("doc_id") % 3 === 1,
            concat(lit(" node 10."), col("doc_id") % 256, lit("."),
              (col("doc_id") * 7) % 256, lit("."),
              col("doc_id") % 200 + 1, lit(" responded")))
          .otherwise(
            concat(lit(" call "), col("doc_id") % 900 + 100, lit("-"),
              (col("doc_id") * 3) % 900 + 100, lit("-"),
              col("doc_id") % 9000 + 1000, lit(" today")))).as("text"))
      val fps = injected.select(col("doc_id"), col("text"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      // keep-the-min-doc dedup as ONE window pass (r18): the old
      // groupBy+left-semi form evaluated the regex fingerprint twice
      // (once under the canon aggregate, once on the probe side) and
      // at scale exchanged fps twice; min-over-fp keeps the identical
      // row set — fp is never NULL (text is concat-extended), so the
      // semi-join's null-drop cannot diverge — with one fingerprint
      // pass and one exchange
      val deduped = fps
        .withColumn("_mid", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("fp"))))
        .where(col("doc_id") === col("_mid"))
        .drop("_mid")
      val gated = deduped
        .withColumn("q_score",
          TextAnalysis.logisticQualityScore(col("text")))
        .where(col("q_score") >= 0.5)
      val sampled = Sampling.hashSample(gated, "doc_id", 128)
      TextAnalysis.redactPii(sampled, "doc_id", "text",
          extraCols = Seq("q_score"))
        .select(col("doc_id"), col("q_score"), col("n_pii"),
          md5(col("redacted")).as("redacted_md5"),
          TextAnalysis.tokenCount(col("redacted")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // BPE tokenizer TRAINING: the iterative most-frequent-pair merge
    // loop over the corpus vocabulary (q76 is the input shape; this is
    // the training step). 6 merges, checkpointed rounds (Components'
    // O(1)-plan discipline), greedy left-to-right application. Oracle
    // replays the full loop as an unrolled materialized-CTE chain.
    "q93_bpe_merges" -> ((s, dir) => {
      Bpe.bpeMerges(Bpe.wordFrequencies(t(s, dir, "documents"), "text"),
        "word", "freq", nMerges = 6)
    }),

    // BPE tokenizer APPLY: the vocabulary's segmentation after the q93
    // merges — train emits the merge table, this emits what it does to
    // every word (same loop, so the pair cannot drift). Oracle = the
    // q93 unrolled CTE chain with the final SELECT reading the last
    // symbol table instead of the round winners.
    "q101_bpe_encode" -> ((s, dir) => {
      Bpe.encodedVocab(Bpe.wordFrequencies(t(s, dir, "documents"), "text"),
        "word", "freq", nMerges = 6)
        .orderBy(col("word"))
    }),

    // BPE-ish regex token counting next to the whitespace count — the
    // pre-tokenizer split shape LLM-data token budgeting actually uses.
    "q51_regex_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.regexTokenCount(col("text")).as("n_bpe"),
          TextAnalysis.tokenCount(col("text")).as("n_ws"))
        .withColumn("bpe_per_ws",
          round(col("n_bpe").cast("double") / col("n_ws"), 6))
        .orderBy(col("doc_id"))
    }),

    // O2 watermarked tumbling windows, streamed + drained: the third
    // streaming correctness row (session_window in q43, custom state in
    // q49). Values are summed as DECIMAL so the result is exact and
    // order-independent — a double sum would hash-diverge on micro-batch
    // accumulation order.
    "q54_stream_tumbling" -> ((s, dir) => {
      // complete-mode sink: trailing no-data batch is eviction-only
      // here — skip it (noEvictionDrainSession scaladoc; r18)
      val sd = graft.streaming.Streams.noEvictionDrainSession(s)
      val stream = eventsStream(sd, dir)
      val agg = graft.streaming.Streams.tumblingAgg(
        stream.select(eventTimestamp("ts").as("ets"),
                      col("value").cast("decimal(18,4)").as("v")),
        "ets", "v", "1 day", "0 seconds")
      graft.streaming.Streams.drainToMemory(agg, "graft_q54_tumbling")
        .select(
          col("w_start").cast("long").as("w_start"),
          col("w_end").cast("long").as("w_end"),
          col("n_events"),
          round(col("sum_value"), 4).cast("double").as("sum_value"))
        .orderBy(col("w_start"))
    }),

    // Stream-static enrichment: the fact stream joins the customer
    // dimension (broadcast — no stream shuffle, no state), then a
    // watermarked daily window aggregates per nation. LEFT enrichment:
    // events with no matching customer keep flowing (nation -1 bucket).
    "q69_stream_enrich" -> ((s, dir) => {
      // complete-mode sink: trailing no-data batch is eviction-only
      // here — skip it (noEvictionDrainSession scaladoc; r18)
      val sd = graft.streaming.Streams.noEvictionDrainSession(s)
      val stream = eventsStream(sd, dir)
      val dim = t(sd, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      val enriched = graft.streaming.Streams.enrich(
        stream.select(eventTimestamp("ts").as("ets"), col("user_id"),
          col("value").cast("decimal(18,4)").as("v")),
        dim, Seq("user_id"))
      val agg = enriched
        .withWatermark("ets", "0 seconds")
        .groupBy(window(col("ets"), "1 day"),
          coalesce(col("c_nationkey"), lit(-1L)).as("c_nationkey"))
        .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sum_value"))
      graft.streaming.Streams.drainToMemory(agg, "graft_q69_enrich")
        .select(
          col("window.start").cast("long").as("w_start"),
          col("c_nationkey"), col("n_events"),
          round(col("sum_value"), 4).cast("double").as("sum_value"))
        .orderBy(col("w_start"), col("c_nationkey"))
    }),

    // O2 sliding windows: 1-day windows every 12 hours — every event in
    // exactly two windows, both reproduced by the oracle's k ∈ {0,1}
    // cross join on epoch-aligned starts. DECIMAL sums for exactness.
    "q55_stream_sliding" -> ((s, dir) => {
      // complete-mode sink: trailing no-data batch is eviction-only
      // here — skip it (noEvictionDrainSession scaladoc; r18)
      val sd = graft.streaming.Streams.noEvictionDrainSession(s)
      val stream = eventsStream(sd, dir)
      val agg = graft.streaming.Streams.slidingAgg(
        stream.select(eventTimestamp("ts").as("ets"),
                      col("value").cast("decimal(18,4)").as("v")),
        "ets", "v", "1 day", "12 hours", "0 seconds")
      graft.streaming.Streams.drainToMemory(agg, "graft_q55_sliding")
        .select(
          col("w_start").cast("long").as("w_start"),
          col("w_end").cast("long").as("w_end"),
          col("n_events"),
          round(col("sum_value"), 4).cast("double").as("sum_value"))
        .orderBy(col("w_start"))
    }),

    // Streaming exact dedup: stateful dropDuplicates over document
    // fingerprints, drained with AvailableNow — the stream-ingest twin
    // of q20. Output is the class count (which ROW survives a class
    // depends on arrival order, so the deterministic surface is the set
    // of distinct fingerprints, not the survivors).
    "q56_stream_dedup" -> ((s, dir) => {
      val batch = t(s, dir, "documents")
      val stream = graft.streaming.Streams.fileSource(
        s, dir, batch.schema, globFilter = Some("documents.parquet"))
      val dedup = graft.streaming.Streams.streamDedup(
        stream.select(TextAnalysis.fingerprint(col("text")).as("fp")),
        Seq("fp"))
      graft.streaming.Streams
        .drainToMemory(dedup, "graft_q56_dedup", "append")
        .agg(count(lit(1)).as("n_classes"))
    }),

    // The streaming CURATION PIPELINE end-to-end (the streaming twin of
    // q40's batch per-group chain): ingest → quality-score filter →
    // stateful fingerprint dedup → per-source class counts, one
    // composed streaming query. Counts are deterministic (which ROW of
    // a class survives depends on arrival order; how many classes exist
    // per source does not).
    "q61_stream_pipeline" -> ((s, dir) => {
      val batch = t(s, dir, "documents")
      val stream = graft.streaming.Streams.fileSource(
        s, dir, batch.schema, globFilter = Some("documents.parquet"))
      // tokenize ONCE into a column (the module convention — inline
      // tokens() would copy the regexp+split subtree per reference)
      val curated = stream
        .withColumn("_toks", TextAnalysis.tokens(col("text")))
        .withColumn("q", TextAnalysis.qualityScoreOf(col("text"),
          col("_toks")))
        .where(col("q") >= 0.5)
        .select(col("source"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      val dedup = graft.streaming.Streams.streamDedup(curated,
        Seq("source", "fp"))
      graft.streaming.Streams
        .drainToMemory(dedup, "graft_q61_pipeline", "append")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_classes"))
        .orderBy(col("source"))
    }),

    // The maxDf-capped Jaccard mode — the only mode you'd run at corpus
    // scale (shingles shared by > maxDf docs in a block are dropped
    // before set sizes are counted, so the capped universe is
    // self-consistent). maxDf = 2 actually bites on this corpus: the
    // df=3 stopword-grams vanish and a few borderline pairs with them.
    "q62_jaccard_capped" -> ((s, dir) => {
      NearDup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          "source", 3, 0.01, maxDf = 2)
        .orderBy(col("a"), col("b"))
    }),

    // O2 + custom streaming state: the SAME drain but through
    // flatMapGroupsWithState with event-time timeout (the operator for
    // state Spark can't express natively). Semantics under
    // Trigger.AvailableNow: a session emits either when a later event
    // breaks its gap in-batch, or when the final watermark passes its
    // end + gap — sessions still open past the last watermark stay in
    // state. The oracle reproduces that cutoff exactly: watermark ms =
    // floor(max event time in µs / 1000), and Spark's eviction is
    // STRICT (`timeoutTimestamp < watermark`, verified in
    // FlatMapGroupsWithStateExec), so keep sessions with
    // (sess_end + gap)·1000 strictly below it. Gap-broken sessions
    // emitted inline always satisfy the strict form: the breaking event
    // is > end+gap in whole seconds, so (end+gap)·1000 < max ms.
    "q49_stateful_stream_sessions" -> ((s, dir) => {
      val spark2 = s
      import spark2.implicits._
      val stream = eventsStream(s, dir)
      val tsEvents = stream
        .select(col("user_id").as("key"), eventTimestamp("ts").as("ts"))
        .as[graft.streaming.StatefulSessions.TsEvent]
      val sess = graft.streaming.StatefulSessions
        .sessionizeWithTimeout(tsEvents, 1800L, "0 seconds")
      graft.streaming.Streams
        .drainToMemory(sess.toDF(), "graft_q49_sessions", "append")
        .select(col("key").as("user_id"), col("sess_start"),
                col("sess_end"), col("n_rows"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // O17 (BaseRecalibration stage), faithful dataflow shape: per-
    // covariate aggregate → broadcast join back → per-row score rewrite
    // (S/SparkGA1.scala:888-924 — GATK BQSR groups scores by covariates,
    // then rewrites every read's scores from the table). The covariate
    // sum is DECIMAL-exact so the derived mean is order-independent.
    "q57_recalibrate" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val cov = li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(moneySum(col("l_discount")).as("cov_sum"),
             count(lit(1)).as("cov_n"))
      li.join(broadcast(cov), Seq("l_returnflag", "l_linestatus"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_discount") -
            col("cov_sum").cast("double") / col("cov_n"), 6).as("recal"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // O18: lenient text ingest — malformed rows counted, not fatal (the
    // reference's badLines counters, SamRegionsParser.scala:71-74). The
    // documents table round-trips through tab-delimited text with 3
    // injected garbage lines; the lenient reader must keep every real
    // row and route exactly the garbage to _corrupt_record.
    "q46_lenient_text" -> ((s, dir) => {
      val path = scratch(s, "q46_csv")
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").option("delimiter", "\t").csv(path)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "zz_corrupt_extra"),
        java.util.Arrays.asList("not\tanumber", "x\ty", "q\tz"))
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("n_chars", "long")
      val (clean, corrupt) = graft.sources.Sinks.splitCorrupt(
        graft.sources.Sinks.readLenientCsv(s, schema, path))
      clean.agg(count(lit(1)).as("n_clean"))
        .crossJoin(corrupt.agg(count(lit(1)).as("n_corrupt")))
    }),

    // O20: single combined sorted sink (the gathered-VCF shape,
    // S/SparkGA1.scala:1242-1251) — write a driver-sized aggregate as ONE
    // sorted file, re-read it, and return it. Oracle = the aggregate
    // computed directly: the round-trip must be lossless.
    "q47_single_sink" -> ((s, dir) => {
      val path = scratch(s, "q47_single")
      val agg = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             round(moneySum(col("value")), 4).cast("double").as("sum_value"))
      graft.sources.Sinks.writeSingleSorted(agg, Seq("user_id"), path)
      s.read.parquet(path).orderBy(col("user_id"))
    }),

    // O11+O15 decomposed: total order as range-repartition + PER-PARTITION
    // sort (Ordering.sortWithin — SortExec with no extra shuffle), the
    // building block the reference applies before each BAM write
    // (S/SparkGA1.scala:601-610). Concatenating the sorted range
    // partitions IS the global order the oracle's ORDER BY produces.
    "q48_partition_sort" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
                eventEpochSeconds("ts").as("t"))
      Ordering.sortWithin(
        e.repartitionByRange(col("user_id"), col("event_id")),
        Seq(col("user_id"), col("event_id")))
    }),

    // O3: external-process-style line pipe (pure-Scala stage, partition-
    // streamed) — tokenizer emitting one line per token, re-aggregated.
    "q31_pipe" -> ((s, dir) => {
      val spark2 = s
      import spark2.implicits._
      // coalesce: a null text would drop the tab from concat_ws and the
      // parser below would crash; '' keeps the line shape.
      val lines = t(s, dir, "documents")
        .select(concat_ws("\t", col("doc_id"), coalesce(col("text"), lit(""))))
        .as[String]
      val piped = Pipe.mapLines(lines, it => it.flatMap { line =>
        val i = line.indexOf('\t')
        val id = line.substring(0, i)
        // mirror TextAnalysis.normalize + split(' ') exactly (an empty
        // doc yields one '' token, as in the oracle's string_split)
        line.substring(i + 1).toLowerCase.trim.replaceAll("\\s+", " ")
          .split(" ", -1).map(tok => id + "\t" + tok)
      })
      piped.map { l => val i = l.indexOf('\t')
          (l.substring(0, i).toLong, l.substring(i + 1)) }
        .toDF("doc_id", "token")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"),
             countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("token"))
    })
  )

  /** Stopword-profile marker lists for the language-ID heuristic. */
  /** Duplicate-class closure for DuckDB: per-source 3-shingle jaccard
    * pairs at `threshold`, then connected components via a recursive
    * CTE — shared by the q73/q74 cluster oracles and q102's
    * leakage-safe split, which differ only in threshold and final
    * SELECT. Exposes `comp` (doc_id, component) to the caller.
    */
  private def componentsOracleChain(threshold: String): String =
    s"""WITH RECURSIVE d AS (
           SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(toks) < 3
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               END)) AS shingle
           FROM d),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         pr AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
           FROM sh x JOIN sh y
             ON x.source = y.source AND x.shingle = y.shingle
             AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         edges AS (
           SELECT a, b FROM pr
           JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
           WHERE round(CAST(n_common AS DOUBLE)
                       / (ca.n_sh + cb.n_sh - n_common), 6) >= $threshold),
         sym AS (SELECT a AS src, b AS dst FROM edges
                 UNION ALL SELECT b, a FROM edges),
         reach(id, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT sym.dst, reach.lab
           FROM sym JOIN reach ON sym.src = reach.id),
         comp AS (SELECT id AS doc_id, min(lab) AS component
                  FROM reach GROUP BY id)"""

  /** The BPE training loop unrolled for DuckDB: one CTE block per
    * round, shared by the q93 (merge table) and q101 (encoded
    * vocabulary) oracles — same chain, different final SELECT.
    * MATERIALIZED is load-bearing — each round references the previous
    * state 4×, so default inlined CTEs re-evaluate the chain
    * exponentially. Exposes `best$k` (round winners) and `s$rounds`
    * (final symbol table) to the caller's final SELECT.
    */
  private def bpeOracleChain(rounds: Int): String = {
    val head =
      """WITH tok AS (
           SELECT unnest(string_split(trim(regexp_replace(lower(
             coalesce(text, '')), '\s+', ' ', 'g')), ' ')) AS word
           FROM documents),
         words AS (SELECT word, count(*) AS freq FROM tok
                   WHERE word <> '' GROUP BY word),
         s0 AS MATERIALIZED (
           SELECT word, freq, CAST(pos AS INTEGER) AS pos,
                  substr(word, CAST(pos AS INTEGER), 1) AS sym
           FROM (SELECT word, freq,
                   unnest(range(1, length(word) + 1)) AS pos
                 FROM words))"""
    val blocks = (0 until rounds).map { k =>
      s"""
         p$k AS MATERIALIZED (
           SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
             SELECT sym AS a,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b,
               freq
             FROM s$k)
           WHERE b IS NOT NULL GROUP BY a, b),
         best$k AS MATERIALIZED (
           SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         mt$k AS MATERIALIZED (
           SELECT m.word, m.pos FROM (
             SELECT word, pos, sym,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
             FROM s$k) m
           JOIN best$k bb ON m.sym = bb.a AND m.nxt = bb.b),
         keep$k AS MATERIALIZED (
           SELECT word, pos FROM (
             SELECT word, pos,
               row_number() OVER (PARTITION BY word, rid ORDER BY pos)
                 AS rn
             FROM (SELECT word, pos,
                     pos - row_number() OVER (PARTITION BY word
                       ORDER BY pos) AS rid
                   FROM mt$k))
           WHERE rn % 2 = 1),
         s${k + 1} AS MATERIALIZED (
           SELECT word, freq,
             CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
               AS INTEGER) AS pos,
             sym
           FROM (
             SELECT s.word, s.freq, s.pos,
               CASE WHEN kh.pos IS NOT NULL THEN bb.a || bb.b
                    ELSE s.sym END AS sym
             FROM s$k s
             LEFT JOIN keep$k kh
               ON s.word = kh.word AND s.pos = kh.pos
             LEFT JOIN keep$k kp
               ON s.word = kp.word AND s.pos = kp.pos + 1
             LEFT JOIN best$k bb ON TRUE
             WHERE kp.pos IS NULL))"""
    }
    head + "," + blocks.mkString(",")
  }

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "y", "es", "se"))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         count(*) AS n_rows,
         sum(l_quantity) AS sum_qty,
         min(l_quantity) AS min_qty,
         max(l_quantity) AS max_qty,
         round(avg(l_quantity), 6) AS avg_qty
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
         FROM lineitem
         WHERE (l_linenumber & 4) = 0 AND l_returnflag <> 'N'
           AND l_quantity > 10
         ORDER BY l_orderkey, l_linenumber""",

    "q3_bucketize" ->
      """WITH w AS (
           SELECT l_suppkey,
                  GREATEST(CAST(ceil(CAST(max(l_orderkey) AS DOUBLE) / 10)
                                AS BIGINT), 1) AS bucket_width
           FROM lineitem GROUP BY l_suppkey)
         SELECT l.l_suppkey,
                CAST(floor(CAST(l.l_orderkey AS DOUBLE) / w.bucket_width)
                     AS INTEGER) AS bucket,
                count(*) AS n_rows,
                min(l.l_orderkey) AS min_pos,
                max(l.l_orderkey) AS max_pos
         FROM lineitem l JOIN w USING (l_suppkey)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q4_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",

    "q5_global_sort" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         ORDER BY l_orderkey, l_linenumber""",

    "q6_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",

    "q7_broadcast_join" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
                CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2)
                     AS DOUBLE) AS sum_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q8_range_join" ->
      """WITH days AS (
           SELECT DISTINCT date_trunc('day', ts) AS day FROM events)
         SELECT day, count(*) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
                  AS sum_value
         FROM events JOIN days
           ON ts >= day AND ts < day + INTERVAL 1 DAY
         GROUP BY day ORDER BY day""",

    "q9_interval_overlap" ->
      """WITH a AS (
           SELECT l_suppkey, min(l_orderkey) AS astart,
                  max(l_orderkey) AS aend
           FROM lineitem GROUP BY l_suppkey),
         b0 AS (
           SELECT o_orderpriority, min(o_orderkey) AS bstart,
                  max(o_orderkey) AS bend
           FROM orders GROUP BY o_orderpriority),
         b AS (
           SELECT o_orderpriority, bstart,
                  CASE WHEN bstart = bend THEN bend + 1 ELSE bend END AS bend
           FROM b0)
         SELECT l_suppkey, o_orderpriority,
                least(aend, bend) - greatest(astart, bstart) + 1
                  AS overlap_len
         FROM a JOIN b ON astart <= bend AND bstart <= aend
         ORDER BY l_suppkey, o_orderpriority""",

    "q10_sessionize" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events),
         m AS (
           SELECT user_id, t,
                  max(t) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM e),
         f AS (
           SELECT user_id, t,
                  CASE WHEN prev_max IS NULL OR t > prev_max + 1800
                       THEN 1 ELSE 0 END AS new_sess
           FROM m),
         sess AS (
           SELECT user_id, t,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
           FROM f)
         SELECT user_id, min(t) AS sess_start, max(t) AS sess_end,
                count(*) AS n_rows
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, sess_start""",

    "q11_markdup" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
         FROM (
           SELECT l_orderkey, l_linenumber, l_extendedprice,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_extendedprice DESC, l_linenumber) AS rn
           FROM lineitem)
         WHERE rn = 1 ORDER BY l_orderkey""",

    "q12_ntile" ->
      """WITH s AS (
           SELECT l_returnflag, l_extendedprice,
                  CAST(ntile(4) OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                    AS INTEGER) AS segment
           FROM lineitem)
         SELECT l_returnflag, segment, count(*) AS n_rows,
                min(l_extendedprice) AS min_price,
                max(l_extendedprice) AS max_price
         FROM s GROUP BY l_returnflag, segment
         ORDER BY l_returnflag, segment""",

    "q13_salted_agg" ->
      """SELECT l_suppkey, sum(l_quantity) AS sum_value,
                count(*) AS n_rows
         FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""",

    "q14_asof_join" ->
      """WITH p AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS t, value
           FROM events WHERE event_type = 'purchase'),
         c0 AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS ct, value AS cv
           FROM events WHERE event_type = 'click'),
         c AS (
           SELECT user_id, ct, max(cv) AS cv
           FROM c0 GROUP BY user_id, ct)
         SELECT p.event_id, p.user_id, p.t, c.ct AS click_t,
                round(c.cv, 6) AS click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.t >= c.ct
         ORDER BY p.event_id""",

    "q15_revenue" ->
      """SELECT l_returnflag,
                CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                               (CAST(1 AS DECIMAL(18,4)) -
                                CAST(l_discount AS DECIMAL(18,4)))), 2)
                     AS DOUBLE) AS revenue
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q16_setops" ->
      """(SELECT c_nationkey AS k FROM customer
         UNION
         SELECT s_nationkey AS k FROM supplier)
         EXCEPT
         SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 0
         ORDER BY k""",

    "q40_group_pipeline" ->
      """WITH cleaned AS (
           SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice
           FROM lineitem WHERE l_extendedprice >= 5000),
         ranked AS (
           SELECT *, row_number() OVER (
             PARTITION BY l_orderkey, l_suppkey
             ORDER BY l_extendedprice DESC, l_linenumber) AS rn
           FROM cleaned)
         SELECT l_orderkey, count(*) AS n_kept,
                CAST(round(sum(CAST(l_extendedprice * 2 AS DECIMAL(18,4))),
                     2) AS DOUBLE) AS sum_recal
         FROM ranked WHERE rn = 1
         GROUP BY l_orderkey ORDER BY l_orderkey""",

    "q39_intersect" ->
      """SELECT c_nationkey AS k FROM customer
         INTERSECT
         SELECT s_nationkey AS k FROM supplier
         ORDER BY k""",

    "q17_scalar_fns" ->
      """SELECT p_partkey,
                upper(p_brand) AS brand_upper,
                substring(p_name, 1, 5) AS name_prefix,
                replace(p_name, 'a', '@') AS name_repl,
                concat(p_brand, '#', p_type) AS brand_type,
                CAST(length(p_name) AS INTEGER) AS name_len,
                CAST(instr(p_type, ' ') AS INTEGER) AS type_space,
                p_size % 7 AS size_mod,
                p_size & 3 AS size_band,
                round(p_retailprice / 7, 4) AS price_div
         FROM part ORDER BY p_partkey""",

    "q18_text_stats" ->
      """WITH d AS (
           SELECT doc_id, coalesce(text, '') AS text,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
             AS distinct_ratio,
           round(CAST(length(array_to_string(toks, '')) AS DOUBLE)
                 / len(toks), 6) AS mean_tok_len,
           round(CAST(length(text) - length(regexp_replace(text,
                   '[\.,;:!\?]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(least(len(toks) / 50.0, 1.0) * 0.4
                 + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                   * 0.4
                 + (1.0 - least((CAST(length(text) - length(regexp_replace(
                     text, '[\.,;:!\?]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1)) * 5.0, 1.0)) * 0.2, 6)
             AS quality
         FROM d ORDER BY doc_id""",

    "q19_langid" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             len(list_filter(toks, x -> x IN ('the','a','of','and','is')))
               AS s_en,
             len(list_filter(toks, x -> x IN ('der','die','das','und','ist')))
               AS s_de,
             len(list_filter(toks, x -> x IN ('le','la','les','et','est')))
               AS s_fr,
             len(list_filter(toks, x -> x IN ('el','los','y','es','se')))
               AS s_es
           FROM d)
         SELECT doc_id,
           CASE WHEN s_en >= greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_de >= greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_fr >= greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                ELSE 'es' END AS pred_lang
         FROM s ORDER BY doc_id""",

    "q20_exact_dedup" ->
      """WITH d AS (
           SELECT doc_id,
                  substr(md5(trim(regexp_replace(lower(coalesce(text, '')),
                    '\s+', ' ', 'g'))), 1, 16) AS fp
           FROM documents)
         SELECT fp, min(doc_id) AS canonical_id, count(*) AS class_size
         FROM d GROUP BY fp ORDER BY fp""",

    "q21_jaccard" ->
      """WITH d AS (
           SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(toks) < 3
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               END)) AS shingle
           FROM d),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         pairs AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
           FROM sh x JOIN sh y
             ON x.source = y.source AND x.shingle = y.shingle
             AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
         SELECT a, b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / (ca.n_sh + cb.n_sh - n_common), 6) AS jaccard
         FROM pairs JOIN cnt ca ON ca.doc_id = a
                    JOIN cnt cb ON cb.doc_id = b
         WHERE round(CAST(n_common AS DOUBLE)
                     / (ca.n_sh + cb.n_sh - n_common), 6) >= 0.01
         ORDER BY a, b""",

    "q73_dup_clusters" ->
      (componentsOracleChain("0.01") +
        """
         SELECT doc_id, component,
                count(*) OVER (PARTITION BY component) AS cluster_size
         FROM comp ORDER BY doc_id"""),

    "q269_kfold_assignment" ->
      (componentsOracleChain("0.5") +
        """
         SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT component) AS BIGINT)
                  AS n_components
         FROM (SELECT doc_id, component,
                 CAST(CAST('0x' || substr(md5(CAST(component
                   AS VARCHAR)), 1, 15) AS BIGINT) % 5 AS INTEGER)
                   AS fold
               FROM comp)
         GROUP BY fold ORDER BY fold"""),

    "q256_dup_size_histogram" ->
      (componentsOracleChain("0.01") +
        """
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM (SELECT component, CAST(count(*) AS BIGINT)
                 AS cluster_size
               FROM comp GROUP BY 1)
         GROUP BY 1 ORDER BY 1"""),

    "q74_dup_clusters_strict" ->
      (componentsOracleChain("0.5") +
        """
         SELECT doc_id, component,
                count(*) OVER (PARTITION BY component) AS cluster_size
         FROM comp ORDER BY doc_id"""),

    // 200/26/30 of 256 ≈ 78/10/12% — bounds c8 and e2 in the md5-hex
    // bucket space, keyed on the COMPONENT so a class never straddles
    // splits (the CASE mirrors Sampling.leakageSafeSplit exactly)
    "q102_leakage_split" ->
      (componentsOracleChain("0.5") +
        """
         SELECT doc_id, component,
                count(*) OVER (PARTITION BY component) AS cluster_size,
                CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2)
                       < 'c8' THEN 'train'
                     WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2)
                       < 'e2' THEN 'val'
                     ELSE 'test' END AS split
         FROM comp ORDER BY doc_id"""),

    "q75_pii_redact" ->
      """WITH inj AS (
           SELECT doc_id, text || CASE
             WHEN doc_id % 3 = 0 THEN ' contact user'
               || CAST(doc_id AS VARCHAR) || '@example'
               || CAST(doc_id % 7 AS VARCHAR) || '.com now'
             WHEN doc_id % 3 = 1 THEN ' node 10.'
               || CAST(doc_id % 256 AS VARCHAR) || '.'
               || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
               || CAST(doc_id % 200 + 1 AS VARCHAR) || ' responded'
             ELSE ' call ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
               || CAST((doc_id * 3) % 900 + 100 AS VARCHAR) || '-'
               || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' today'
             END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
             AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text,
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '[EMAIL]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g') AS redacted,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
             + len(regexp_extract_all(text,
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_pii
         FROM inj ORDER BY doc_id""",

    "q76_vocab" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS token FROM d)
         SELECT token, count(*) AS freq,
                count(DISTINCT doc_id) AS df
         FROM tok WHERE token <> ''
         GROUP BY token ORDER BY freq DESC, token LIMIT 50""",

    "q77_train_shuffle" ->
      """SELECT doc_id,
                md5('graft42:' || CAST(doc_id AS VARCHAR)) AS skey,
                row_number() OVER (ORDER BY
                  md5('graft42:' || CAST(doc_id AS VARCHAR)))
                  AS shuffle_pos
         FROM documents ORDER BY shuffle_pos""",

    "q79_mixture_sample" ->
      """WITH parts(source, w) AS (
           VALUES ('src0', 6), ('src1', 3), ('src2', 1)),
         cnt AS (SELECT p.source, w, count(*) AS n
                 FROM documents d JOIN parts p ON d.source = p.source
                 GROUP BY p.source, w),
         nm AS (SELECT min(n * 10 // w) AS nmax FROM cnt),
         thr AS (SELECT source, least(256, 256 * w * nmax // (10 * n))
                   AS t
                 FROM cnt, nm)
         SELECT d.doc_id, d.source
         FROM documents d JOIN thr ON d.source = thr.source
         WHERE t = 256
            OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)
               < printf('%02x', t)
         ORDER BY d.doc_id""",

    "q82_quality_model" ->
      """WITH d AS (
           SELECT doc_id, coalesce(text, '') AS text,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         f AS (
           SELECT doc_id,
             least(len(toks) / 50.0, 1.0) AS flen,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               AS fdiv,
             CAST(length(text) - length(regexp_replace(text,
                 '[\.,;:!\?]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS fpunct,
             least((CAST(length(array_to_string(toks, '')) AS DOUBLE)
                    / len(toks)) / 10.0, 1.0) AS fmtl
           FROM d)
         SELECT doc_id,
           round(1.0 / (1.0 + exp(-(-2.5 + flen * 2.0 + fdiv * 3.0
             + fpunct * -4.0 + fmtl * 0.5))), 6) AS q_score,
           round(1.0 / (1.0 + exp(-(-2.5 + flen * 2.0 + fdiv * 3.0
             + fpunct * -4.0 + fmtl * 0.5))), 6) >= 0.5 AS kept
         FROM f ORDER BY doc_id""",

    "q83_stream_dedup_gate" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         h AS (SELECT doc_id, md5(tok) AS h FROM tk),
         bits AS (
           SELECT doc_id, p,
             sum(CASE WHEN p % 2 = 0
                 THEN CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('1','3','5','7','9','b','d','f')
                      THEN 1 ELSE -1 END
                 ELSE CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('2','3','6','7','a','b','e','f')
                      THEN 1 ELSE -1 END END) AS s
           FROM h CROSS JOIN range(0, 64) r(p)
           GROUP BY doc_id, p),
         bands AS (
           SELECT doc_id, p // 16 AS band,
             CAST(sum(CASE WHEN s > 0 THEN (1 << (p % 16)) ELSE 0 END)
               AS INTEGER) AS bv
           FROM bits GROUP BY doc_id, p // 16),
         sigs AS (
           SELECT doc_id,
             printf('%04x%04x%04x%04x',
               max(CASE WHEN band = 3 THEN bv END),
               max(CASE WHEN band = 2 THEN bv END),
               max(CASE WHEN band = 1 THEN bv END),
               max(CASE WHEN band = 0 THEN bv END)) AS simhash_hex
           FROM bands GROUP BY doc_id)
         SELECT s.doc_id, s.simhash_hex
         FROM sigs s
         WHERE s.doc_id % 10 <> 0
           AND NOT EXISTS (
             SELECT 1 FROM bands sb JOIN bands ib
               ON sb.band = ib.band AND sb.bv = ib.bv
             WHERE sb.doc_id = s.doc_id AND ib.doc_id % 10 = 0)
         ORDER BY doc_id""",

    "q81_jsonl_sink" ->
      """SELECT doc_id, source,
           CAST(len(string_split(trim(regexp_replace(lower(coalesce(text,
             '')), '\s+', ' ', 'g')), ' ')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""",

    "q84_orc_sink" ->
      """SELECT doc_id, source,
           CAST(len(string_split(trim(regexp_replace(lower(coalesce(text,
             '')), '\s+', ' ', 'g')), ' ')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""",

    "q85_compact" ->
      """SELECT doc_id, source,
           CAST(len(string_split(trim(regexp_replace(lower(coalesce(text,
             '')), '\s+', ' ', 'g')), ' ')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""",

    "q86_tsv_sink" ->
      """SELECT doc_id, source,
           CAST(len(string_split(trim(regexp_replace(lower(coalesce(text,
             '')), '\s+', ' ', 'g')), ' ')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""",

    "q285_xml_sink" ->
      """SELECT doc_id, source,
           CAST(len(string_split(trim(regexp_replace(lower(coalesce(text,
             '')), '\s+', ' ', 'g')), ' ')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""",

    "q286_variant_json" ->
      """WITH j AS (
           SELECT '{"u":' || CAST(user_id AS VARCHAR) ||
                  ',"t":"' || event_type ||
                  '","cents":' ||
                  CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) ||
                  ',"tags":["pipeline","' || event_type || '"]}' AS meta
           FROM events),
         x AS (
           SELECT CAST(json_extract(meta, '$.u') AS BIGINT) AS u,
                  json_extract_string(meta, '$.t') AS t,
                  CAST(json_extract(meta, '$.cents') AS BIGINT) AS cents,
                  json_extract_string(meta, '$.tags[1]') AS tag1
           FROM j)
         SELECT t AS event_type, count(*) AS n_rows,
                CAST(sum(u) AS BIGINT) AS sum_user,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                count(CASE WHEN t = tag1 THEN 1 END) AS tag_match
         FROM x GROUP BY t ORDER BY t""",

    "q88_stream_file_sink" ->
      """SELECT event_id, user_id, round(value, 6) AS value
         FROM events WHERE value > 50 ORDER BY event_id""",

    "q100_histogram" ->
      // DuckDB has no width_bucket; this replays Spark's width-first
      // arithmetic (width = (51-1)/10 = 5.0) — exact here because
      // l_quantity is integer-valued and every bucket boundary is an
      // exact multiple of the width
      """SELECT CASE WHEN l_quantity < 1 THEN 0
                     WHEN l_quantity >= 51 THEN 11
                     ELSE CAST(floor((l_quantity - 1) / 5.0) + 1
                       AS BIGINT) END AS bucket,
                count(*) AS n_rows
         FROM lineitem GROUP BY bucket ORDER BY bucket""",

    "q99_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, text, source FROM documents),
         chg AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' [v2]'
                  ELSE text END AS text,
             source
           FROM old WHERE doc_id % 7 <> 0),
         addd AS (
           SELECT -doc_id - 1 AS doc_id, text, source
           FROM old WHERE doc_id % 9 = 0),
         nw AS (SELECT * FROM chg UNION ALL SELECT * FROM addd),
         j AS (
           SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.text IS NOT DISTINCT FROM n.text
                   AND o.source IS NOT DISTINCT FROM n.source
                    THEN 'unchanged'
                  ELSE 'changed' END AS status
           FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
         SELECT doc_id, status FROM j
         WHERE status <> 'unchanged' ORDER BY doc_id""",

    "q97_topk_per_group" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice, rnk FROM (
           SELECT o_orderkey, o_orderpriority, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
               AS rnk
           FROM orders)
         WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""",

    "q98_quality_checks" -> {
      val cs = Seq(
        "discount_le_cap" -> "l_discount <= 0.1",
        "price_positive" -> "l_extendedprice > 0",
        "quantity_in_range" -> "l_quantity BETWEEN 1 AND 50",
        "returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')")
      val union = cs.map { case (n, p) =>
        s"""SELECT '$n' AS "constraint", count(*) AS n_rows,
              count(CASE WHEN NOT coalesce($p, false) THEN 1 END)
                AS n_violations
            FROM lineitem"""
      }.mkString("\n UNION ALL\n")
      s"""SELECT "constraint", n_rows, n_violations,
            n_violations = 0 AS passed
          FROM ($union) ORDER BY "constraint""""
    },

    "q95_profile_text" -> {
      val cols = Seq("text", "lang", "source")
      cols.map { c =>
        s"""SELECT '$c' AS "column",
              count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
              count(CASE WHEN $c = '' THEN 1 END) AS n_empty,
              count(DISTINCT $c) AS n_distinct,
              CAST(min(length($c)) AS BIGINT) AS min_len,
              CAST(max(length($c)) AS BIGINT) AS max_len,
              round(avg(length($c)), 6) AS avg_len
            FROM documents"""
      }.mkString("", "\n UNION ALL\n", "\n ORDER BY \"column\"")
    },

    "q94_curation_pipeline" ->
      """WITH inj AS (
           SELECT doc_id, coalesce(text || CASE
             WHEN doc_id % 3 = 0 THEN ' contact user'
               || CAST(doc_id AS VARCHAR) || '@example'
               || CAST(doc_id % 7 AS VARCHAR) || '.com now'
             WHEN doc_id % 3 = 1 THEN ' node 10.'
               || CAST(doc_id % 256 AS VARCHAR) || '.'
               || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
               || CAST(doc_id % 200 + 1 AS VARCHAR) || ' responded'
             ELSE ' call ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
               || CAST((doc_id * 3) % 900 + 100 AS VARCHAR) || '-'
               || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' today'
             END, '') AS text
           FROM documents),
         d AS (
           SELECT doc_id, text,
             substr(md5(trim(regexp_replace(lower(text), '\s+', ' ',
               'g'))), 1, 16) AS fp
           FROM inj),
         canon AS (SELECT fp, min(doc_id) AS doc_id FROM d GROUP BY fp),
         dd AS (SELECT d.doc_id, d.text FROM d
                JOIN canon ON d.fp = canon.fp
                  AND d.doc_id = canon.doc_id),
         f AS (
           SELECT doc_id, text,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ',
               'g')), ' ') AS toks
           FROM dd),
         feat AS (
           SELECT doc_id, text,
             least(len(toks) / 50.0, 1.0) AS flen,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               AS fdiv,
             CAST(length(text) - length(regexp_replace(text,
                 '[\.,;:!\?]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS fpunct,
             least((CAST(length(array_to_string(toks, '')) AS DOUBLE)
                    / len(toks)) / 10.0, 1.0) AS fmtl
           FROM f),
         q AS (
           SELECT doc_id, text,
             round(1.0 / (1.0 + exp(-(-2.5 + flen * 2.0 + fdiv * 3.0
               + fpunct * -4.0 + fmtl * 0.5))), 6) AS q_score
           FROM feat),
         samp AS (
           SELECT * FROM q WHERE q_score >= 0.5
             AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'),
         red AS (
           SELECT doc_id, q_score,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               + len(regexp_extract_all(text,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
               + len(regexp_extract_all(text,
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_pii,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '[EMAIL]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g')
               AS redacted
           FROM samp)
         SELECT doc_id, q_score, n_pii, md5(redacted) AS redacted_md5,
           CAST(len(string_split(trim(regexp_replace(lower(redacted),
             '\s+', ' ', 'g')), ' ')) AS INTEGER) AS n_tokens
         FROM red ORDER BY doc_id""",

    "q93_bpe_merges" -> {
      val rounds = 6
      val union = (0 until rounds).map { k =>
        s"""SELECT ${k + 1} AS merge_rank, a AS left_sym,
              b AS right_sym, cnt AS pair_count FROM best$k"""
      }.mkString("\n UNION ALL ")
      bpeOracleChain(rounds) +
        s"\n SELECT * FROM ($union) ORDER BY merge_rank"
    },

    "q101_bpe_encode" -> {
      val rounds = 6
      bpeOracleChain(rounds) +
        s"""
         SELECT word, CAST(count(*) AS BIGINT) AS n_syms,
           string_agg(sym, ' ' ORDER BY pos) AS encoded
         FROM s$rounds GROUP BY word ORDER BY word"""
    },

    "q92_incremental_dedup" ->
      """WITH d AS (
           SELECT doc_id,
                  substr(md5(trim(regexp_replace(lower(coalesce(text, '')),
                    '\s+', ' ', 'g'))), 1, 16) AS fp
           FROM documents),
         idx AS (SELECT fp FROM d WHERE doc_id % 10 = 0),
         b AS (SELECT fp, min(doc_id) AS doc_id
               FROM d WHERE doc_id % 10 <> 0 GROUP BY fp)
         SELECT doc_id, fp FROM b
         WHERE fp NOT IN (SELECT fp FROM idx)
         ORDER BY doc_id""",

    "q91_hyperplane_lsh" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         hp AS (
           SELECT j.j, d.d,
             CAST('0x' || substr(md5('hp:' || j.j || ':' || d.d), 1, 15)
               AS BIGINT) / 1152921504606846976.0 * 2 - 1 AS comp
           FROM range(0, 32) j(j) CROSS JOIN range(0, 64) d(d)),
         hpl AS (SELECT j, list(comp ORDER BY d) AS rv
                 FROM hp GROUP BY j),
         bits AS (
           SELECT v.vec_id, hpl.j,
             CASE WHEN round(list_dot_product(v.ev, hpl.rv), 6) > 0
                  THEN 1 ELSE 0 END AS bit
           FROM v CROSS JOIN hpl),
         sigs AS (
           SELECT vec_id, CAST(j // 8 AS INTEGER) AS band,
                  CAST(sum(bit << (j % 8)) AS BIGINT) AS bv
           FROM bits GROUP BY vec_id, j // 8),
         cands AS (
           SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           FROM sigs x JOIN sigs y
             ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id)
         SELECT c.a, c.b,
                round(list_dot_product(xa.ev, yb.ev)
                      / (sqrt(list_dot_product(xa.ev, xa.ev))
                         * sqrt(list_dot_product(yb.ev, yb.ev))), 6) AS sim
         FROM cands c
         JOIN v xa ON c.a = xa.vec_id
         JOIN v yb ON c.b = yb.vec_id
         WHERE round(list_dot_product(xa.ev, yb.ev)
                     / (sqrt(list_dot_product(xa.ev, xa.ev))
                        * sqrt(list_dot_product(yb.ev, yb.ev))), 6) >= 0.35
         ORDER BY a, b""",

    "q89_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS "column",
              count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
              count(DISTINCT $c) AS n_distinct,
              round(CAST(min($c) AS DOUBLE), 6) AS min_v,
              round(CAST(max($c) AS DOUBLE), 6) AS max_v,
              round(avg($c), 6) AS avg_v
            FROM lineitem"""
      }.mkString("", "\n UNION ALL\n", "\n ORDER BY \"column\"")
    },

    "q87_zorder" -> {
      // same unrolled Morton interleave as Layout.zValue2(bits = 16)
      val terms = (0 until 16).flatMap(i => Seq(
        s"((CAST(user_id AS BIGINT) >> $i) & 1) * (CAST(1 AS BIGINT) << ${2 * i})",
        s"(((event_id % 1024) >> $i) & 1) * (CAST(1 AS BIGINT) << ${2 * i + 1})"))
      s"""SELECT event_id, ${terms.mkString("\n             + ")} AS zval
         FROM events ORDER BY event_id"""
    },

    "q80_upsample" ->
      """WITH s AS (SELECT doc_id FROM documents WHERE source = 'src0'),
         c AS (SELECT doc_id,
                 2 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                          < printf('%02x', 128) THEN 1 ELSE 0 END AS n
               FROM s)
         SELECT doc_id,
                CAST(unnest(generate_series(1, n)) AS INTEGER) AS copy_id
         FROM c ORDER BY doc_id, copy_id""",

    "q78_stream_join" ->
      """WITH a AS (SELECT user_id, event_id AS a_id, ts AS a_ts
                    FROM events WHERE event_id % 2 = 0),
            b AS (SELECT user_id, event_id AS b_id, ts AS b_ts
                    FROM events WHERE event_id % 2 = 1)
         SELECT a.user_id, a_id, b_id
         FROM a JOIN b ON a.user_id = b.user_id
           AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 10 MINUTE
         ORDER BY 1, a_id, b_id""",

    "q22_minhash_lsh" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             unnest(list_distinct(CASE WHEN len(toks) < 3
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               END)) AS shingle
           FROM d),
         sigs AS (
           SELECT doc_id, i,
                  min(CAST(('0x' ||
                    substr(md5(shingle || '#' || CAST(i // 2 AS VARCHAR)),
                      CAST(1 + 16 * (i % 2) AS INTEGER), 15)) AS BIGINT))
                    AS mh
           FROM sh CROSS JOIN range(0, 16) r(i)
           GROUP BY doc_id, i),
         bands AS (
           SELECT doc_id, i // 2 AS band,
                  md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i))
                    AS band_hash
           FROM sigs GROUP BY doc_id, i // 2),
         cand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.band_hash = y.band_hash
             AND x.doc_id < y.doc_id)
         SELECT a, b,
           round(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0, 6)
             AS est_jaccard
         FROM cand JOIN sigs sa ON sa.doc_id = a
                   JOIN sigs sb ON sb.doc_id = b AND sb.i = sa.i
         GROUP BY a, b ORDER BY a, b""",

    "q23_simhash" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         h AS (SELECT doc_id, md5(tok) AS h FROM tk),
         bits AS (
           SELECT doc_id, p,
             sum(CASE WHEN p % 2 = 0
                 THEN CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('1','3','5','7','9','b','d','f')
                      THEN 1 ELSE -1 END
                 ELSE CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('2','3','6','7','a','b','e','f')
                      THEN 1 ELSE -1 END END) AS s
           FROM h CROSS JOIN range(0, 64) r(p)
           GROUP BY doc_id, p),
         bands AS (
           SELECT doc_id, p // 16 AS band,
             CAST(sum(CASE WHEN s > 0 THEN (1 << (p % 16)) ELSE 0 END)
               AS INTEGER) AS bv
           FROM bits GROUP BY doc_id, p // 16)
         SELECT doc_id,
           max(CASE WHEN band = 0 THEN bv END) AS s0,
           max(CASE WHEN band = 1 THEN bv END) AS s1,
           max(CASE WHEN band = 2 THEN bv END) AS s2,
           max(CASE WHEN band = 3 THEN bv END) AS s3,
           printf('%04x%04x%04x%04x',
             max(CASE WHEN band = 3 THEN bv END),
             max(CASE WHEN band = 2 THEN bv END),
             max(CASE WHEN band = 1 THEN bv END),
             max(CASE WHEN band = 0 THEN bv END)) AS simhash_hex
         FROM bands GROUP BY doc_id ORDER BY doc_id""",

    "q24_cosine_topk" ->
      """WITH q AS (
           SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
         c AS (
           SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings),
         s AS (
           SELECT qid, cid,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv))) AS sim
           FROM q CROSS JOIN c WHERE qid <> cid),
         r AS (
           SELECT qid AS query_id, cid AS cand_id, sim,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, cid) AS INTEGER) AS rnk
           FROM s)
         SELECT query_id, cand_id, rnk, round(sim, 6) AS sim
         FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""",

    "q25_ivf_ann" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         cents AS (
           SELECT vec_id AS centroid_id, ev AS centv FROM v
           WHERE vec_id < 8),
         asg AS (
           SELECT vec_id, ev, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(ev, centv)
                 / (sqrt(list_dot_product(ev, ev))
                    * sqrt(list_dot_product(centv, centv))) DESC,
               centroid_id) AS crnk
           FROM v CROSS JOIN cents),
         corpus AS (
           SELECT vec_id AS cand_id, ev AS cv, centroid_id
           FROM asg WHERE crnk = 1),
         queries AS (
           SELECT cand_id AS query_id, cv AS qv, centroid_id
           FROM corpus WHERE cand_id >= 10 AND cand_id < 20),
         s AS (
           SELECT q.query_id, c.cand_id,
             list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
           FROM queries q JOIN corpus c
             ON q.centroid_id = c.centroid_id
             AND q.query_id <> c.cand_id),
         r AS (
           SELECT query_id, cand_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, cand_id) AS INTEGER) AS rnk
           FROM s)
         SELECT query_id, cand_id, rnk, round(sim, 6) AS sim
         FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""",

    "q63_ivf_nprobe" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         cents AS (
           SELECT vec_id AS centroid_id, ev AS centv FROM v
           WHERE vec_id < 8),
         asg AS (
           SELECT vec_id, ev, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(ev, centv)
                 / (sqrt(list_dot_product(ev, ev))
                    * sqrt(list_dot_product(centv, centv))) DESC,
               centroid_id) AS crnk
           FROM v CROSS JOIN cents),
         corpus AS (
           SELECT vec_id AS cand_id, ev AS cv, centroid_id
           FROM asg WHERE crnk = 1),
         queries AS (
           SELECT vec_id AS query_id, ev AS qv, centroid_id
           FROM asg
           WHERE crnk <= 2 AND vec_id >= 10 AND vec_id < 20),
         s AS (
           SELECT q.query_id, c.cand_id,
             list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS sim
           FROM queries q JOIN corpus c
             ON q.centroid_id = c.centroid_id
             AND q.query_id <> c.cand_id),
         r AS (
           SELECT query_id, cand_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, cand_id) AS INTEGER) AS rnk
           FROM s)
         SELECT query_id, cand_id, rnk, round(sim, 6) AS sim
         FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""",

    "q64_media_decode" ->
      """SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
                           WHEN 2 THEN 'jpeg' ELSE 'gif' END AS format,
           CAST(CASE doc_id % 4 WHEN 0 THEN doc_id % 37 + 1
                                WHEN 2 THEN doc_id % 41 + 1
                                WHEN 3 THEN doc_id % 31 + 1
                                ELSE -1 END AS INTEGER) AS width,
           CAST(CASE doc_id % 4 WHEN 0 THEN doc_id % 23 + 1
                                WHEN 2 THEN doc_id % 29 + 1
                                WHEN 3 THEN doc_id % 17 + 1
                                ELSE -1 END AS INTEGER) AS height,
           CAST(CASE doc_id % 4 WHEN 1 THEN 8000 + (doc_id % 5) * 1000
                                ELSE -1 END AS INTEGER) AS sample_rate,
           CAST(CASE doc_id % 4 WHEN 1 THEN (doc_id // 5) % 2 + 1
                                ELSE -1 END AS INTEGER) AS channels,
           CAST(CASE doc_id % 4
                WHEN 0 THEN 54 + (doc_id % 23 + 1)
                     * (((doc_id % 37 + 1) * 3 + 3) // 4 * 4)
                WHEN 1 THEN 44 + (doc_id % 50 + 100)
                     * ((doc_id // 5) % 2 + 1) * 2
                WHEN 2 THEN 21 + doc_id % 16
                ELSE 14 END AS INTEGER) AS n_bytes
         FROM documents ORDER BY doc_id""",

    "q26_window_fns" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS t, value
           FROM events)
         SELECT event_id, user_id, t, round(value, 6) AS value,
           round(lag(value, 1) OVER w, 6) AS prev_value,
           CAST(row_number() OVER w AS INTEGER) AS rn,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS run_sum
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
         ORDER BY user_id, rn""",

    "q27_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
                coalesce(l_linestatus, 'ALL') AS ls,
                CAST(grouping(l_returnflag, l_linestatus) AS INTEGER)
                  AS gid,
                count(*) AS n_rows, sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY gid, rf, ls""",

    "q96_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
                coalesce(l_linestatus, 'ALL') AS ls,
                CAST(grouping(l_returnflag, l_linestatus) AS INTEGER)
                  AS gid,
                count(*) AS n_rows, sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, rf, ls""",

    "q28_json_extract" ->
      """SELECT event_type, count(*) AS n_rows,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                     AS BIGINT) AS sum_k,
                min(CAST(json_extract_string(props, '$.k') AS INTEGER))
                  AS min_k,
                max(CAST(json_extract_string(props, '$.k') AS INTEGER))
                  AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q29_multimodal" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                md5(text) AS content_md5,
                substr(hex(encode(text)), 1, 16) AS prefix_hex
         FROM documents ORDER BY doc_id""",

    "q30_interval_union" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events),
         m AS (
           SELECT user_id, t,
                  max(t) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM e),
         f AS (
           SELECT user_id, t,
                  CASE WHEN prev_max IS NULL OR t > prev_max + 1800
                       THEN 1 ELSE 0 END AS new_sess
           FROM m),
         sess AS (
           SELECT user_id, t,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
           FROM f)
         SELECT user_id, min(t) AS sess_start, max(t) AS sess_end,
                count(*) AS n_rows
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, sess_start""",

    "q32_session_window" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS tu FROM events),
         m AS (
           SELECT user_id, tu,
                  max(tu) OVER (PARTITION BY user_id ORDER BY tu
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM e),
         f AS (
           SELECT user_id, tu,
                  CASE WHEN prev_max IS NULL
                         OR tu >= prev_max + 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM m),
         sess AS (
           SELECT user_id, tu,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY tu
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
           FROM f)
         SELECT user_id, min(tu) // 1000000 AS sess_start,
                (max(tu) + 1800000000) // 1000000 AS sess_end,
                count(*) AS n_rows
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, sess_start""",

    "q33_percentile" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // Sketch validations: the oracle computes the EXACT twin and
    // asserts the error-bound booleans as TRUE — Spark computes those
    // booleans for real, so a sketch outside its bound flips one and
    // hash-mismatches the row (see the query docs for the bounds).
    "q34_approx_sketch" ->
      """SELECT l_returnflag,
                CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
                TRUE AS orders_ok, TRUE AS median_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q41_approx_segment" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
                TRUE AS n_segments_ok,
                TRUE AS contiguous_ok, TRUE AS balance_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q90_profile_approx" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS "column",
              count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
              count(DISTINCT $c) AS n_distinct,
              TRUE AS nd_ok,
              round(CAST(min($c) AS DOUBLE), 6) AS min_v,
              round(CAST(max($c) AS DOUBLE), 6) AS max_v,
              round(avg($c), 6) AS avg_v
            FROM lineitem"""
      }.mkString("", "\n UNION ALL\n", "\n ORDER BY \"column\"")
    },

    "q149_hll_mergeable" ->
      """SELECT CAST(event_type AS VARCHAR) AS stratum,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
                TRUE AS est_ok
         FROM events GROUP BY 1
         UNION ALL
         SELECT '__all__' AS stratum,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
                TRUE AS est_ok
         FROM events
         ORDER BY stratum""",

    "q38_banded_interval_join" ->
      """WITH a AS (
           SELECT l_suppkey, l_returnflag, min(l_orderkey) AS astart,
                  max(l_orderkey) AS aend
           FROM lineitem GROUP BY l_suppkey, l_returnflag),
         b AS (
           SELECT l_suppkey, l_linestatus, min(l_orderkey) AS bstart,
                  max(l_orderkey) AS bend
           FROM lineitem GROUP BY l_suppkey, l_linestatus)
         SELECT l_suppkey, l_returnflag, l_linestatus,
                least(aend, bend) - greatest(astart, bstart) + 1
                  AS overlap_len
         FROM a JOIN b USING (l_suppkey)
         WHERE astart <= bend AND bstart <= aend
         ORDER BY l_suppkey, l_returnflag, l_linestatus""",

    "q36_kmeans_iter" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         cents AS (
           SELECT vec_id AS centroid_id, ev AS centv FROM v
           WHERE vec_id < 8),
         asg AS (
           SELECT vec_id, ev, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(ev, centv)
                 / (sqrt(list_dot_product(ev, ev))
                    * sqrt(list_dot_product(centv, centv))) DESC,
               centroid_id) AS crnk
           FROM v CROSS JOIN cents),
         m AS (SELECT vec_id, ev, centroid_id FROM asg WHERE crnk = 1)
         SELECT centroid_id, CAST(i AS INTEGER) AS pos,
                round(avg(ev[i]), 6) AS mean, count(*) AS n_members
         FROM m CROSS JOIN generate_series(1, 64) s(i)
         GROUP BY centroid_id, i ORDER BY centroid_id, i""",

    "q37_det_sample" ->
      """SELECT source, count(*) AS n_rows,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33'
         GROUP BY source ORDER BY source""",

    "q289_kmeans_train" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         c1 AS (
           SELECT vec_id AS centroid_id, ev AS centv FROM v
           WHERE vec_id < 8),
         asg1 AS (
           SELECT vec_id, ev, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(ev, centv)
                 / (sqrt(list_dot_product(ev, ev))
                    * sqrt(list_dot_product(centv, centv))) DESC,
               centroid_id) AS crnk
           FROM v CROSS JOIN c1),
         m1 AS (SELECT vec_id, ev, centroid_id FROM asg1 WHERE crnk = 1),
         mean1 AS (
           SELECT centroid_id, CAST(i AS INTEGER) AS pos,
                  round(avg(ev[i]), 6) AS mean
           FROM m1 CROSS JOIN generate_series(1, 64) s(i)
           GROUP BY centroid_id, i),
         grid AS (
           SELECT c.centroid_id, CAST(i AS INTEGER) AS pos,
                  c.centv[CAST(i AS INTEGER)] AS prev
           FROM c1 c CROSS JOIN generate_series(1, 64) s(i)),
         comp2 AS (
           SELECT g.centroid_id, g.pos,
                  CAST(CAST(coalesce(m.mean, g.prev) AS REAL) AS DOUBLE)
                    AS x
           FROM grid g LEFT JOIN mean1 m USING (centroid_id, pos)),
         c2 AS (
           SELECT centroid_id, list(x ORDER BY pos) AS centv
           FROM comp2 GROUP BY centroid_id),
         asg2 AS (
           SELECT vec_id, ev, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(ev, centv)
                 / (sqrt(list_dot_product(ev, ev))
                    * sqrt(list_dot_product(centv, centv))) DESC,
               centroid_id) AS crnk
           FROM v CROSS JOIN c2),
         m2 AS (SELECT vec_id, ev, centroid_id FROM asg2 WHERE crnk = 1)
         SELECT centroid_id, CAST(i AS INTEGER) AS pos,
                round(avg(ev[i]), 6) AS mean, count(*) AS n_members
         FROM m2 CROSS JOIN generate_series(1, 64) s(i)
         GROUP BY centroid_id, i ORDER BY centroid_id, i""",

    "q290_kmeans_converged" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         c1 AS (
           SELECT vec_id AS centroid_id, ev AS centv FROM v
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         asg1 AS (
           SELECT vec_id, ev, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(ev, centv)
                 / (sqrt(list_dot_product(ev, ev))
                    * sqrt(list_dot_product(centv, centv))) DESC,
               centroid_id) AS crnk
           FROM v CROSS JOIN c1),
         m1 AS (SELECT vec_id, ev, centroid_id FROM asg1 WHERE crnk = 1),
         mean1 AS (
           SELECT centroid_id, CAST(i AS INTEGER) AS pos,
                  round(avg(ev[i]), 6) AS mean, count(*) AS n_members
           FROM m1 CROSS JOIN generate_series(1, 64) s(i)
           GROUP BY centroid_id, i),
         grid1 AS (
           SELECT c.centroid_id, CAST(i AS INTEGER) AS pos,
                  c.centv[CAST(i AS INTEGER)] AS prev
           FROM c1 c CROSS JOIN generate_series(1, 64) s(i)),
         comp2 AS (
           SELECT g.centroid_id, g.pos, g.prev,
                  CAST(CAST(coalesce(m.mean, g.prev) AS REAL) AS DOUBLE)
                    AS x
           FROM grid1 g LEFT JOIN mean1 m USING (centroid_id, pos)),
         s1 AS (SELECT max(abs(x - prev)) AS shift FROM comp2),
         c2 AS (
           SELECT centroid_id, list(x ORDER BY pos) AS centv
           FROM comp2 GROUP BY centroid_id),
         asg2 AS (
           SELECT vec_id, ev, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(ev, centv)
                 / (sqrt(list_dot_product(ev, ev))
                    * sqrt(list_dot_product(centv, centv))) DESC,
               centroid_id) AS crnk
           FROM v CROSS JOIN c2),
         m2 AS (SELECT vec_id, ev, centroid_id FROM asg2 WHERE crnk = 1),
         mean2 AS (
           SELECT centroid_id, CAST(i AS INTEGER) AS pos,
                  round(avg(ev[i]), 6) AS mean, count(*) AS n_members
           FROM m2 CROSS JOIN generate_series(1, 64) s(i)
           GROUP BY centroid_id, i),
         grid2 AS (SELECT centroid_id, pos, x AS prev FROM comp2),
         comp3 AS (
           SELECT g.centroid_id, g.pos, g.prev,
                  CAST(CAST(coalesce(m.mean, g.prev) AS REAL) AS DOUBLE)
                    AS x
           FROM grid2 g LEFT JOIN mean2 m USING (centroid_id, pos)),
         s2 AS (SELECT max(abs(x - prev)) AS shift FROM comp3),
         c3 AS (
           SELECT centroid_id, list(x ORDER BY pos) AS centv
           FROM comp3 GROUP BY centroid_id),
         asg3 AS (
           SELECT vec_id, ev, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(ev, centv)
                 / (sqrt(list_dot_product(ev, ev))
                    * sqrt(list_dot_product(centv, centv))) DESC,
               centroid_id) AS crnk
           FROM v CROSS JOIN c3),
         m3 AS (SELECT vec_id, ev, centroid_id FROM asg3 WHERE crnk = 1),
         mean3 AS (
           SELECT centroid_id, CAST(i AS INTEGER) AS pos,
                  round(avg(ev[i]), 6) AS mean, count(*) AS n_members
           FROM m3 CROSS JOIN generate_series(1, 64) s(i)
           GROUP BY centroid_id, i)
         SELECT centroid_id, pos, mean, n_members FROM mean1
           WHERE (SELECT shift FROM s1) <= 0.05
         UNION ALL
         SELECT centroid_id, pos, mean, n_members FROM mean2
           WHERE (SELECT shift FROM s1) > 0.05
             AND (SELECT shift FROM s2) <= 0.05
         UNION ALL
         SELECT centroid_id, pos, mean, n_members FROM mean3
           WHERE (SELECT shift FROM s1) > 0.05
             AND (SELECT shift FROM s2) > 0.05
         ORDER BY centroid_id, pos""",

    "q35_salted_join" ->
      """SELECT s_nationkey, count(*) AS n_rows,
                sum(l_quantity) AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey""",

    "q42_interleave" ->
      """SELECT l_orderkey, 0 AS side, l_quantity AS qty
         FROM lineitem WHERE l_linenumber = 1
         UNION ALL
         SELECT l_orderkey, 1 AS side, l_quantity AS qty
         FROM lineitem WHERE l_linenumber = 2
         ORDER BY l_orderkey, side""",

    "q43_stream_sessions" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS tu FROM events),
         m AS (
           SELECT user_id, tu,
                  max(tu) OVER (PARTITION BY user_id ORDER BY tu
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM e),
         f AS (
           SELECT user_id, tu,
                  CASE WHEN prev_max IS NULL
                         OR tu >= prev_max + 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM m),
         sess AS (
           SELECT user_id, tu,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY tu
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
           FROM f)
         SELECT user_id, min(tu) // 1000000 AS sess_start,
                (max(tu) + 1800000000) // 1000000 AS sess_end,
                count(*) AS n_rows
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, sess_start""",

    "q44_partitioned_sink" ->
      """SELECT doc_id, n_chars, source FROM documents
         WHERE source = 'src7' ORDER BY doc_id""",

    "q45_bucketed_join" ->
      """SELECT o_orderkey, o_totalprice, count(*) AS n_lines,
                sum(l_quantity) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderkey, o_totalprice
         ORDER BY o_orderkey""",

    "q69_stream_enrich" ->
      """WITH e AS (
           SELECT epoch_ns(ts) // 1000000000 AS t, user_id,
                  CAST(value AS DECIMAL(18,4)) AS v
           FROM events),
         j AS (
           SELECT e.t, e.v,
                  CAST(coalesce(c.c_nationkey, -1) AS BIGINT)
                    AS c_nationkey
           FROM e LEFT JOIN customer c ON e.user_id = c.c_custkey)
         SELECT (t // 86400) * 86400 AS w_start, c_nationkey,
                count(*) AS n_events,
                CAST(round(sum(v), 4) AS DOUBLE) AS sum_value
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",

    "q54_stream_tumbling" ->
      """WITH e AS (
           SELECT epoch_ns(ts) // 1000000000 AS t,
                  CAST(value AS DECIMAL(18,4)) AS v
           FROM events)
         SELECT (t // 86400) * 86400 AS w_start,
                (t // 86400) * 86400 + 86400 AS w_end,
                count(*) AS n_events,
                CAST(round(sum(v), 4) AS DOUBLE) AS sum_value
         FROM e GROUP BY 1 ORDER BY w_start""",

    "q55_stream_sliding" ->
      """WITH e AS (
           SELECT epoch_ns(ts) // 1000000000 AS t,
                  CAST(value AS DECIMAL(18,4)) AS v
           FROM events),
         w AS (
           SELECT ((t // 43200) - k) * 43200 AS w_start, v
           FROM e CROSS JOIN range(0, 2) r(k))
         SELECT w_start, w_start + 86400 AS w_end,
                count(*) AS n_events,
                CAST(round(sum(v), 4) AS DOUBLE) AS sum_value
         FROM w GROUP BY w_start ORDER BY w_start""",

    "q56_stream_dedup" ->
      """SELECT count(DISTINCT substr(md5(trim(regexp_replace(lower(
           coalesce(text, '')), '\s+', ' ', 'g'))), 1, 16)) AS n_classes
         FROM documents""",

    "q61_stream_pipeline" ->
      """WITH d AS (
           SELECT source, coalesce(text, '') AS text,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         scored AS (
           SELECT source, text,
             round(least(len(toks) / 50.0, 1.0) * 0.4
                   + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                     * 0.4
                   + (1.0 - least((CAST(length(text) - length(regexp_replace(
                       text, '[\.,;:!\?]', '', 'g')) AS DOUBLE)
                       / greatest(length(text), 1)) * 5.0, 1.0)) * 0.2, 6)
               AS q
           FROM d)
         SELECT source,
                count(DISTINCT substr(md5(trim(regexp_replace(lower(text),
                  '\s+', ' ', 'g'))), 1, 16)) AS n_classes
         FROM scored WHERE q >= 0.5
         GROUP BY source ORDER BY source""",

    "q62_jaccard_capped" ->
      """WITH d AS (
           SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh0 AS (
           SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(toks) < 3
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               END)) AS shingle
           FROM d),
         hot AS (
           SELECT source, shingle FROM sh0
           GROUP BY source, shingle HAVING count(*) > 2),
         sh AS (
           SELECT sh0.* FROM sh0 ANTI JOIN hot
             ON sh0.source = hot.source AND sh0.shingle = hot.shingle),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         pairs AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
           FROM sh x JOIN sh y
             ON x.source = y.source AND x.shingle = y.shingle
             AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
         SELECT a, b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / (ca.n_sh + cb.n_sh - n_common), 6) AS jaccard
         FROM pairs JOIN cnt ca ON ca.doc_id = a
                    JOIN cnt cb ON cb.doc_id = b
         WHERE round(CAST(n_common AS DOUBLE)
                     / (ca.n_sh + cb.n_sh - n_common), 6) >= 0.01
         ORDER BY a, b""",

    "q53_percentile_bucketed" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q52_stratified_sample" ->
      """SELECT source, count(*) AS n_rows,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
               CASE source WHEN 'src0' THEN '1a'
                           WHEN 'src1' THEN '66'
                           ELSE '33' END
         GROUP BY source ORDER BY source""",

    "q60_simhash_pairs" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         h AS (SELECT doc_id, md5(tok) AS h FROM tk),
         bits AS (
           SELECT doc_id, p,
             sum(CASE WHEN p % 2 = 0
                 THEN CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('1','3','5','7','9','b','d','f')
                      THEN 1 ELSE -1 END
                 ELSE CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('2','3','6','7','a','b','e','f')
                      THEN 1 ELSE -1 END END) AS s
           FROM h CROSS JOIN range(0, 64) r(p)
           GROUP BY doc_id, p),
         bnd AS (
           SELECT doc_id, p // 16 AS band,
             CAST(sum(CASE WHEN s > 0 THEN (1 << (p % 16)) ELSE 0 END)
               AS INTEGER) AS bv
           FROM bits GROUP BY doc_id, p // 16),
         sh AS (
           SELECT doc_id,
             max(CASE WHEN band = 0 THEN bv END) AS s0,
             max(CASE WHEN band = 1 THEN bv END) AS s1,
             max(CASE WHEN band = 2 THEN bv END) AS s2,
             max(CASE WHEN band = 3 THEN bv END) AS s3
           FROM bnd GROUP BY doc_id),
         bands AS (
           SELECT doc_id, s0, s1, s2, s3, band,
                  CASE band WHEN 0 THEN s0 WHEN 1 THEN s1
                            WHEN 2 THEN s2 ELSE s3 END AS v
           FROM sh CROSS JOIN range(0, 4) b(band)),
         cand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                  x.s0 AS a0, x.s1 AS a1, x.s2 AS a2, x.s3 AS a3,
                  y.s0 AS b0, y.s1 AS b1, y.s2 AS b2, y.s3 AS b3
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id)
         SELECT a, b,
                CAST(bit_count(CAST(xor(a0, b0) AS BIGINT))
                   + bit_count(CAST(xor(a1, b1) AS BIGINT))
                   + bit_count(CAST(xor(a2, b2) AS BIGINT))
                   + bit_count(CAST(xor(a3, b3) AS BIGINT)) AS INTEGER)
                  AS hamming
         FROM cand
         WHERE bit_count(CAST(xor(a0, b0) AS BIGINT))
             + bit_count(CAST(xor(a1, b1) AS BIGINT))
             + bit_count(CAST(xor(a2, b2) AS BIGINT))
             + bit_count(CAST(xor(a3, b3) AS BIGINT)) <= 3
         ORDER BY a, b""",

    "q59_tfidf" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tk AS (SELECT doc_id, unnest(toks) AS term FROM d),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM tk GROUP BY doc_id, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         scored AS (
           SELECT doc_id, term, tf, df,
                  round(tf * ln(CAST((SELECT count(*) FROM documents)
                    AS DOUBLE) / df), 6) AS score
           FROM tf JOIN dfreq USING (term)),
         ranked AS (
           SELECT doc_id, term, tf, df, score,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS rnk
           FROM scored)
         SELECT doc_id, term AS top_term, tf, df, score
         FROM ranked WHERE rnk = 1 ORDER BY doc_id""",

    "q58_winnow_pairs" ->
      """WITH d AS (
           SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, source,
                  CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                       ELSE list_transform(generate_series(1, len(toks) - 2),
                         i -> array_to_string(list_slice(toks, i, i + 2),
                           ' '))
                  END AS shs
           FROM d),
         h AS (
           SELECT doc_id, source,
                  list_transform(shs, s ->
                    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
           FROM sh),
         f AS (
           SELECT doc_id, source,
                  CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                       WHEN len(hs) < 4 THEN [list_min(hs)]
                       ELSE list_distinct(list_transform(
                         generate_series(1, len(hs) - 3),
                         i -> list_min(list_slice(hs, i, i + 3))))
                  END AS fps
           FROM h),
         e AS (SELECT doc_id, source, unnest(fps) AS fp FROM f)
         SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
         FROM e x JOIN e y
           ON x.source = y.source AND x.fp = y.fp AND x.doc_id < y.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q65_winnow_capped" ->
      """WITH d AS (
           SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, source,
                  CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                       ELSE list_transform(generate_series(1, len(toks) - 2),
                         i -> array_to_string(list_slice(toks, i, i + 2),
                           ' '))
                  END AS shs
           FROM d),
         h AS (
           SELECT doc_id, source,
                  list_transform(shs, s ->
                    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
           FROM sh),
         f AS (
           SELECT doc_id, source,
                  CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                       WHEN len(hs) < 4 THEN [list_min(hs)]
                       ELSE list_distinct(list_transform(
                         generate_series(1, len(hs) - 3),
                         i -> list_min(list_slice(hs, i, i + 3))))
                  END AS fps
           FROM h),
         e0 AS (SELECT doc_id, source, unnest(fps) AS fp FROM f),
         hot AS (
           SELECT source, fp FROM e0
           GROUP BY source, fp HAVING count(*) > 2),
         e AS (
           SELECT e0.* FROM e0 ANTI JOIN hot
             ON e0.source = hot.source AND e0.fp = hot.fp)
         SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
         FROM e x JOIN e y
           ON x.source = y.source AND x.fp = y.fp AND x.doc_id < y.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q72_bloom_decontaminate" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             unnest(list_distinct(CASE WHEN len(toks) < 5
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 4),
                 i -> array_to_string(list_slice(toks, i, i + 4), ' '))
               END)) AS shingle
           FROM d),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0)
         SELECT s.doc_id, count(*) AS n_shared_grams
         FROM sh s JOIN bench b USING (shingle)
         WHERE s.doc_id % 20 != 0
         GROUP BY 1 ORDER BY 1""",

    "q71_seq_pack" ->
      """WITH RECURSIVE base AS (
           SELECT source, doc_id,
                  CAST(len(string_split(trim(regexp_replace(lower(
                    coalesce(text, '')), '\s+', ' ', 'g')), ' '))
                    AS BIGINT) AS n_tokens,
                  row_number() OVER (PARTITION BY source
                    ORDER BY doc_id) AS rn
           FROM documents),
         walk AS (
           SELECT source, doc_id, n_tokens, rn,
                  CAST(0 AS BIGINT) AS seq_id,
                  CAST(0 AS BIGINT) AS seq_off,
                  n_tokens AS fill
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.source, b.doc_id, b.n_tokens, b.rn,
                  CASE WHEN w.fill > 0 AND w.fill + b.n_tokens > 128
                       THEN w.seq_id + 1 ELSE w.seq_id END,
                  CASE WHEN w.fill > 0 AND w.fill + b.n_tokens > 128
                       THEN CAST(0 AS BIGINT) ELSE w.fill END,
                  CASE WHEN w.fill > 0 AND w.fill + b.n_tokens > 128
                       THEN b.n_tokens ELSE w.fill + b.n_tokens END
           FROM walk w JOIN base b
             ON b.source = w.source AND b.rn = w.rn + 1)
         SELECT source, doc_id, n_tokens, seq_id, seq_off
         FROM walk ORDER BY source, doc_id""",

    "q70_token_chunks" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         c AS (
           SELECT doc_id, toks,
                  CASE WHEN n <= 32 THEN 1
                       ELSE (n - 32 + 23) // 24 + 1 END AS nc
           FROM n),
         e AS (
           SELECT doc_id, toks,
                  unnest(generate_series(0, nc - 1)) AS chunk_id
           FROM c)
         SELECT doc_id, chunk_id,
                CAST(len(list_slice(toks, chunk_id * 24 + 1,
                  chunk_id * 24 + 32)) AS INTEGER) AS n_chunk_tokens,
                array_to_string(list_slice(toks, chunk_id * 24 + 1,
                  chunk_id * 24 + 32), ' ') AS chunk_text
         FROM e ORDER BY doc_id, chunk_id""",

    "q68_quantized_ann" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         m AS (
           SELECT vec_id, ev,
                  list_max(list_transform(ev, x -> abs(x))) AS ma
           FROM v),
         q8 AS (
           SELECT vec_id, ev,
                  CASE WHEN ma = 0 THEN list_transform(ev, x -> 0.0)
                       ELSE list_transform(ev, x ->
                         least(greatest(round(x * 127 / ma), -127), 127))
                  END AS qv
           FROM m),
         qn AS (
           SELECT vec_id, ev, qv,
                  sqrt(list_dot_product(qv, qv)) AS qnorm,
                  sqrt(list_dot_product(ev, ev)) AS enorm
           FROM q8),
         qry AS (SELECT * FROM qn WHERE vec_id < 10),
         coarse AS (
           SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY round(CASE WHEN q.qnorm * c.qnorm > 0
                      THEN list_dot_product(q.qv, c.qv)
                           / (q.qnorm * c.qnorm) END, 6) DESC,
                      c.vec_id) AS crnk
           FROM qn c, qry q WHERE q.vec_id != c.vec_id),
         surv AS (SELECT query_id, cand_id FROM coarse WHERE crnk <= 20),
         exact AS (
           SELECT s.query_id, s.cand_id,
                  round(CASE WHEN q.enorm * c.enorm > 0
                    THEN list_dot_product(q.ev, c.ev)
                         / (q.enorm * c.enorm) END, 6) AS sim
           FROM surv s JOIN qn c ON c.vec_id = s.cand_id
                       JOIN qn q ON q.vec_id = s.query_id),
         ranked AS (
           SELECT query_id, cand_id, sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, cand_id) AS rnk
           FROM exact)
         SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk, sim
         FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""",

    "q67_repetition" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
                  CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                       ELSE list_transform(generate_series(1, len(toks) - 1),
                         i -> array_to_string(list_slice(toks, i, i + 1),
                           ' '))
                  END AS g2
           FROM d),
         sig AS (
           SELECT doc_id,
                  CAST(len(toks) AS INTEGER) AS n_tokens,
                  CAST(list_max(list_transform(list_distinct(toks),
                    t -> len(list_filter(toks, x -> x = t)))) AS BIGINT)
                    AS top_token_count,
                  CASE WHEN len(g2) = 0 THEN CAST(0 AS BIGINT)
                       ELSE CAST(list_max(list_transform(list_distinct(g2),
                         t -> len(list_filter(g2, x -> x = t)))) AS BIGINT)
                  END AS top_2gram_count,
                  len(g2) AS n2, len(list_distinct(g2)) AS d2
           FROM g),
         f AS (
           SELECT doc_id, n_tokens, top_token_count, top_2gram_count,
                  round(CAST(top_token_count AS DOUBLE) / n_tokens, 6)
                    AS top_token_frac,
                  CASE WHEN n2 > 0
                       THEN round(1.0 - CAST(d2 AS DOUBLE) / n2, 6)
                       ELSE 0.0 END AS dup_2gram_frac
           FROM sig)
         SELECT doc_id, n_tokens, top_token_count, top_2gram_count,
                top_token_frac, dup_2gram_frac,
                (top_token_frac <= 0.12 AND dup_2gram_frac <= 0.05)
                  AS repetition_ok
         FROM f ORDER BY doc_id""",

    "q108_semdedup" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         hp AS (
           SELECT j.j, d.d,
             CAST('0x' || substr(md5('hp:' || j.j || ':' || d.d), 1, 15)
               AS BIGINT) / 1152921504606846976.0 * 2 - 1 AS comp
           FROM range(0, 32) j(j) CROSS JOIN range(0, 64) d(d)),
         hpl AS (SELECT j, list(comp ORDER BY d) AS rv
                 FROM hp GROUP BY j),
         bits AS (
           SELECT v.vec_id, hpl.j,
             CASE WHEN round(list_dot_product(v.ev, hpl.rv), 6) > 0
                  THEN 1 ELSE 0 END AS bit
           FROM v CROSS JOIN hpl),
         sigs AS (
           SELECT vec_id, CAST(j // 8 AS INTEGER) AS band,
                  CAST(sum(bit << (j % 8)) AS BIGINT) AS bv
           FROM bits GROUP BY vec_id, j // 8),
         cands AS (
           SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           FROM sigs x JOIN sigs y
             ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id),
         dominated AS (
           SELECT DISTINCT c.b
           FROM cands c
           JOIN v xa ON c.a = xa.vec_id
           JOIN v yb ON c.b = yb.vec_id
           WHERE round(list_dot_product(xa.ev, yb.ev)
                       / (sqrt(list_dot_product(xa.ev, xa.ev))
                          * sqrt(list_dot_product(yb.ev, yb.ev))), 6)
                 >= 0.35)
         SELECT e.vec_id, e.label FROM embeddings e
         WHERE e.vec_id NOT IN (SELECT b FROM dominated)
         ORDER BY e.vec_id""",

    "q109_sanitize" ->
      """WITH inj AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 5 = 0 THEN chr(7) || ' '
                        ELSE '' END)
                  || coalesce(text, '')
                  || (CASE WHEN doc_id % 7 = 0
                           THEN ' ' || chr(65533) || chr(65533) || 'x'
                           ELSE '' END) AS text
           FROM documents),
         f AS (
           SELECT doc_id,
                  CAST(length(text) - length(regexp_replace(text,
                    chr(65533), '', 'g')) AS BIGINT) AS n_repl,
                  CAST(length(text) - length(regexp_replace(text,
                    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))
                    AS BIGINT) AS n_ctrl,
                  md5(trim(regexp_replace(regexp_replace(text,
                    '[' || chr(65533) ||
                    '\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', ' ', 'g'),
                    '\s+', ' ', 'g'))) AS clean_md5
           FROM inj)
         SELECT doc_id, n_repl, n_ctrl, clean_md5,
                (n_repl = 0 AND n_ctrl = 0) AS is_clean
         FROM f ORDER BY doc_id""",

    "q110_weighted_sample" ->
      """WITH d AS (
           SELECT doc_id, n_chars + 1 AS w,
             CAST('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)),
               1, 15) AS BIGINT) / 1152921504606846976.0 AS u
           FROM documents),
         p AS (SELECT doc_id, w, round(pow(u, 1.0 / w), 6) AS priority
               FROM d ORDER BY priority DESC, doc_id LIMIT 200)
         SELECT doc_id, w, priority FROM p ORDER BY doc_id""",

    "q111_canonicalize" ->
      """WITH base AS (SELECT doc_id, text, n_chars FROM documents),
         corpus AS (
           SELECT doc_id, text, n_chars FROM base
           UNION ALL
           SELECT doc_id + 1000000, text, n_chars + doc_id % 3
           FROM base WHERE doc_id % 10 = 0),
         d AS (
           SELECT substr(md5(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g'))), 1, 16) AS fp,
                  doc_id, n_chars * 16777216 - doc_id AS r
           FROM corpus)
         SELECT fp, arg_max(doc_id, r) AS canonical_id,
                count(*) AS class_size
         FROM d GROUP BY fp ORDER BY fp""",

    "q112_containment" ->
      """WITH base AS (SELECT doc_id, text, source FROM documents),
         corpus AS (
           SELECT doc_id, text, source FROM base
           UNION ALL
           SELECT doc_id + 2000000,
                  substr(coalesce(text, ''), 1,
                    CAST(floor(length(coalesce(text, '')) / 2)
                      AS INTEGER)),
                  source
           FROM base WHERE doc_id % 6 = 0),
         d AS (
           SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM corpus),
         sh AS (
           SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(toks) < 3
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               END)) AS shingle
           FROM d),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         pairs AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
           FROM sh x JOIN sh y
             ON x.source = y.source AND x.shingle = y.shingle
             AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
         SELECT a, b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / least(ca.n_sh, cb.n_sh), 6) AS containment
         FROM pairs JOIN cnt ca ON ca.doc_id = a
                    JOIN cnt cb ON cb.doc_id = b
         WHERE round(CAST(n_common AS DOUBLE)
                     / least(ca.n_sh, cb.n_sh), 6) >= 0.8
         ORDER BY a, b""",

    "q113_pagerank" ->
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND y.l_linenumber = x.l_linenumber + 1
           WHERE x.l_partkey != y.l_partkey),
         nodes AS MATERIALIZED (
           SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes),
         deg AS MATERIALIZED (
           SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         p0 AS (SELECT id, 1.0 / (SELECT c FROM nn) AS pr FROM nodes),
         p1 AS MATERIALIZED (
           SELECT nd.id, 0.15 / (SELECT c FROM nn)
                  + 0.85 * coalesce(m.s, 0) AS pr
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id, sum(p.pr / d.outdeg) AS s
             FROM e JOIN p0 p ON p.id = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = nd.id),
         p2 AS MATERIALIZED (
           SELECT nd.id, 0.15 / (SELECT c FROM nn)
                  + 0.85 * coalesce(m.s, 0) AS pr
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id, sum(p.pr / d.outdeg) AS s
             FROM e JOIN p1 p ON p.id = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = nd.id),
         p3 AS (
           SELECT nd.id, 0.15 / (SELECT c FROM nn)
                  + 0.85 * coalesce(m.s, 0) AS pr
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id, sum(p.pr / d.outdeg) AS s
             FROM e JOIN p2 p ON p.id = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = nd.id)
         SELECT id, round(pr, 9) AS pr FROM p3 ORDER BY id""",

    "q114_blob_roundtrip" ->
      """SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS fname,
                CAST(octet_length(encode(coalesce(text, '') || chr(10)))
                  AS BIGINT) AS byte_len,
                md5(coalesce(text, '') || chr(10)) AS content_md5
         FROM documents WHERE doc_id % 9 = 0 ORDER BY fname""",

    "q115_schema_evolution" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS text_md5,
                CAST(NULL AS VARCHAR) AS lang
         FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, md5(coalesce(text, '')) AS text_md5, lang
         FROM documents WHERE doc_id % 2 = 1
         ORDER BY doc_id""",

    "q119_fuzzy_dedup" ->
      (componentsOracleChain("0.01") +
        """
         SELECT c.component,
                arg_max(c.doc_id, dd.n_chars * 16777216 - c.doc_id)
                  AS keep_id,
                count(*) AS class_size
         FROM comp c JOIN documents dd ON c.doc_id = dd.doc_id
         GROUP BY c.component ORDER BY c.component"""),

    "q138_media_ingest" ->
      """SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
                           WHEN 2 THEN 'jpeg' ELSE 'gif' END AS format,
           CAST(CASE doc_id % 4 WHEN 0 THEN doc_id % 37 + 1
                                WHEN 2 THEN doc_id % 41 + 1
                                WHEN 3 THEN doc_id % 31 + 1
                                ELSE -1 END AS INTEGER) AS width,
           CAST(CASE doc_id % 4 WHEN 0 THEN doc_id % 23 + 1
                                WHEN 2 THEN doc_id % 29 + 1
                                WHEN 3 THEN doc_id % 17 + 1
                                ELSE -1 END AS INTEGER) AS height,
           CAST(CASE doc_id % 4 WHEN 1 THEN 8000 + (doc_id % 5) * 1000
                                ELSE -1 END AS INTEGER) AS sample_rate,
           CAST(CASE doc_id % 4 WHEN 1 THEN (doc_id // 5) % 2 + 1
                                ELSE -1 END AS INTEGER) AS channels,
           CAST(CASE doc_id % 4
                WHEN 0 THEN 54 + (doc_id % 23 + 1)
                     * (((doc_id % 37 + 1) * 3 + 3) // 4 * 4)
                WHEN 1 THEN 44 + (doc_id % 50 + 100)
                     * ((doc_id // 5) % 2 + 1) * 2
                WHEN 2 THEN 21 + doc_id % 16
                ELSE 14 END AS INTEGER) AS n_bytes
         FROM documents WHERE doc_id % 6 = 0 ORDER BY doc_id""",

    "q135_class_terms" ->
      """WITH d AS (
           SELECT source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT source, unnest(toks) AS token FROM d
           WHERE len(toks) > 0 AND toks != ['']),
         bg AS (SELECT source, token, count(*) AS cg
                FROM tok GROUP BY source, token),
         ng AS (SELECT source, sum(cg) AS n FROM bg GROUP BY source),
         dfc AS (SELECT token, count(*) AS df FROM bg GROUP BY token),
         nc AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n
                FROM bg),
         sc AS (
           SELECT b.source, b.token,
                  (CAST(b.cg AS DOUBLE) / CAST(ng.n AS DOUBLE))
                  * ln(1.0 + (SELECT n FROM nc)
                        / CAST(dfc.df AS DOUBLE)) AS score
           FROM bg b JOIN ng USING (source) JOIN dfc USING (token)),
         rk AS (
           SELECT source, token, score,
                  row_number() OVER (PARTITION BY source
                    ORDER BY score DESC, token) AS rnk
           FROM sc)
         SELECT source, CAST(rnk AS INTEGER) AS rnk, token,
                round(score, 6) AS score
         FROM rk WHERE rnk <= 5 ORDER BY source, rnk""",

    "q136_link_extract" ->
      """WITH inj AS (
           SELECT doc_id, coalesce(text, '') ||
                  (CASE WHEN doc_id % 3 = 0
                        THEN ' see http://site' ||
                             CAST(doc_id % 7 AS VARCHAR) ||
                             '.example.com/p' ||
                             CAST(doc_id % 11 AS VARCHAR)
                        ELSE '' END) AS text
           FROM documents),
         m AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(text,
                    'http://([a-z0-9.]+)', 1)) AS domain
           FROM inj)
         SELECT domain, count(*) AS n_mentions,
                count(DISTINCT doc_id) AS n_docs
         FROM m GROUP BY domain ORDER BY domain""",

    "q140_tfidf_neardup" ->
      """WITH d AS (
           SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT doc_id, source, unnest(toks) AS token FROM d
           WHERE len(toks) > 0 AND toks != ['']),
         tf AS (SELECT doc_id, source, token, count(*) AS tf
                FROM tok GROUP BY doc_id, source, token),
         dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         kept AS (SELECT token, df FROM dfreq WHERE df <= 400),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         w AS (
           SELECT tf.doc_id, tf.source, tf.token,
                  CAST(tf.tf AS DOUBLE)
                    * ln((SELECT n FROM nn) / CAST(k.df AS DOUBLE)) AS w
           FROM tf JOIN kept k USING (token)),
         nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nm
                 FROM w GROUP BY doc_id),
         dots AS (
           SELECT x.doc_id AS a, y.doc_id AS b, sum(x.w * y.w) AS dot
           FROM w x JOIN w y
             ON x.source = y.source AND x.token = y.token
             AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
         SELECT a, b, round(dot / (na.nm * nb.nm), 6) AS sim
         FROM dots JOIN nrm na ON na.doc_id = a
                   JOIN nrm nb ON nb.doc_id = b
         WHERE round(dot / (na.nm * nb.nm), 6) >= 0.5
         ORDER BY a, b""",

    "q141_bm25_search" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT doc_id, unnest(toks) AS token FROM d
           WHERE len(toks) > 0 AND toks != ['']),
         lens AS (SELECT doc_id, count(*) AS len
                  FROM tok GROUP BY doc_id),
         c AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                      CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                        AS avgdl
               FROM lens),
         qt AS (
           SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token IN ('stream', 'window', 'join')
           GROUP BY doc_id, token),
         dfq AS (SELECT token, count(*) AS df FROM qt GROUP BY token),
         sc AS (
           SELECT q.doc_id,
                  ln(((SELECT n FROM c) - CAST(f.df AS DOUBLE) + 0.5)
                     / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
                  * (CAST(q.tf AS DOUBLE) * 2.2)
                  / (CAST(q.tf AS DOUBLE) + 1.2 * (0.25
                     + 0.75 * CAST(l.len AS DOUBLE)
                       / (SELECT avgdl FROM c))) AS s
           FROM qt q JOIN dfq f USING (token)
                     JOIN lens l USING (doc_id)),
         top AS (
           SELECT doc_id, round(sum(s), 6) AS score
           FROM sc GROUP BY doc_id
           ORDER BY score DESC, doc_id LIMIT 20)
         SELECT doc_id, score FROM top ORDER BY doc_id""",

    "q142_editdist2" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_nationkey FROM customer),
         typo AS (
           SELECT c_custkey + 2000000 AS c_custkey,
                  substr(c_name, 1, 2) || substr(c_name, 4, 2)
                    || substr(c_name, 7) AS c_name,
                  c_nationkey
           FROM base WHERE c_custkey % 17 = 0),
         uni AS (SELECT * FROM base UNION ALL SELECT * FROM typo)
         SELECT x.c_custkey AS a, y.c_custkey AS b,
                CAST(levenshtein(x.c_name, y.c_name) AS INTEGER) AS dist
         FROM uni x JOIN uni y
           ON x.c_nationkey = y.c_nationkey
           AND x.c_custkey < y.c_custkey
         WHERE abs(length(x.c_name) - length(y.c_name)) <= 2
           AND levenshtein(x.c_name, y.c_name) <= 2
         ORDER BY a, b""",

    "q143_pagerank_sinks" ->
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND y.l_linenumber = x.l_linenumber + 1
           WHERE x.l_partkey < y.l_partkey),
         nodes AS MATERIALIZED (
           SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes),
         deg AS MATERIALIZED (
           SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         sink AS MATERIALIZED (
           SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM e)),
         p0 AS (SELECT id, 1.0 / (SELECT c FROM nn) AS pr FROM nodes),
         d0 AS (SELECT coalesce(sum(p.pr), 0) AS v
                FROM p0 p JOIN sink s ON s.id = p.id),
         p1 AS MATERIALIZED (
           SELECT nd.id, 0.15 / (SELECT c FROM nn)
                  + 0.85 * (coalesce(m.s, 0)
                    + (SELECT v FROM d0) / (SELECT c FROM nn)) AS pr
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id, sum(p.pr / d.outdeg) AS s
             FROM e JOIN p0 p ON p.id = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = nd.id),
         d1 AS (SELECT coalesce(sum(p.pr), 0) AS v
                FROM p1 p JOIN sink s ON s.id = p.id),
         p2 AS MATERIALIZED (
           SELECT nd.id, 0.15 / (SELECT c FROM nn)
                  + 0.85 * (coalesce(m.s, 0)
                    + (SELECT v FROM d1) / (SELECT c FROM nn)) AS pr
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id, sum(p.pr / d.outdeg) AS s
             FROM e JOIN p1 p ON p.id = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = nd.id),
         d2 AS (SELECT coalesce(sum(p.pr), 0) AS v
                FROM p2 p JOIN sink s ON s.id = p.id),
         p3 AS (
           SELECT nd.id, 0.15 / (SELECT c FROM nn)
                  + 0.85 * (coalesce(m.s, 0)
                    + (SELECT v FROM d2) / (SELECT c FROM nn)) AS pr
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id, sum(p.pr / d.outdeg) AS s
             FROM e JOIN p2 p ON p.id = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = nd.id)
         SELECT id, round(pr, 9) AS pr FROM p3 ORDER BY id""",

    "q144_pmi_collocations" ->
      """WITH d AS (
           SELECT string_split(trim(regexp_replace(lower(coalesce(text,
             '')), '\s+', ' ', 'g')), ' ') AS rawtoks
           FROM documents),
         lf AS (SELECT list_filter(rawtoks, t -> t != '') AS toks
                FROM d),
         uc AS MATERIALIZED (
           SELECT w, count(*) AS c
           FROM (SELECT unnest(toks) AS w FROM lf) GROUP BY w),
         nu AS (SELECT CAST(sum(c) AS DOUBLE) AS v FROM uc),
         bg AS MATERIALIZED (
           SELECT string_split(unnest(list_transform(
                    generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1])), ' ') AS pr
           FROM lf WHERE len(toks) >= 2),
         bc AS MATERIALIZED (
           SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS n_ab FROM bg
           GROUP BY 1, 2),
         nb AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS v FROM bc)
         SELECT b.w1, b.w2, b.n_ab,
                round(ln((CAST(b.n_ab AS DOUBLE) / (SELECT v FROM nb)) /
                  ((CAST(ua.c AS DOUBLE) / (SELECT v FROM nu)) *
                   (CAST(ub.c AS DOUBLE) / (SELECT v FROM nu)))), 6)
                  AS pmi
         FROM bc b JOIN uc ua ON ua.w = b.w1
                   JOIN uc ub ON ub.w = b.w2
         WHERE b.n_ab >= 30
         ORDER BY w1, w2""",

    "q145_label_prop" ->
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND y.l_linenumber = x.l_linenumber + 1
           WHERE x.l_partkey != y.l_partkey),
         und AS MATERIALIZED (
           SELECT src AS u, dst AS v FROM e0
           UNION
           SELECT dst, src FROM e0),
         l0 AS (SELECT DISTINCT u AS id, u AS label FROM und),
         l1 AS MATERIALIZED (
           SELECT u AS id, label FROM (
             SELECT c.u, c.label,
                    row_number() OVER (PARTITION BY c.u
                      ORDER BY c.cnt DESC, c.label ASC) AS rn
             FROM (SELECT und.u, l.label, count(*) AS cnt
                   FROM und JOIN l0 l ON l.id = und.v
                   GROUP BY und.u, l.label) c) WHERE rn = 1),
         l2 AS (
           SELECT u AS id, label FROM (
             SELECT c.u, c.label,
                    row_number() OVER (PARTITION BY c.u
                      ORDER BY c.cnt DESC, c.label ASC) AS rn
             FROM (SELECT und.u, l.label, count(*) AS cnt
                   FROM und JOIN l1 l ON l.id = und.v
                   GROUP BY und.u, l.label) c) WHERE rn = 1)
         SELECT id, label FROM l2 ORDER BY id""",

    "q146_scd2_intervals" ->
      """WITH ordered AS (
           SELECT o_custkey AS custkey, o_orderpriority AS priority,
                  o_orderdate AS ts, o_orderkey AS ok,
                  lag(o_orderpriority) OVER w AS prev_attr
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey)),
         changes AS (
           SELECT custkey, priority, ts, ok FROM ordered
           WHERE prev_attr IS NULL OR prev_attr != priority)
         SELECT custkey, priority,
                epoch_ns(ts) // 1000000000 AS valid_from_s,
                epoch_ns(lead(ts) OVER (PARTITION BY custkey
                  ORDER BY ts, ok)) // 1000000000 AS valid_to_s
         FROM changes
         ORDER BY custkey, valid_from_s, priority""",

    "q147_triangles" ->
      """WITH e0 AS (
           SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND y.l_linenumber = x.l_linenumber + 1
           WHERE x.l_partkey != y.l_partkey),
         ec AS MATERIALIZED (
           SELECT DISTINCT least(src, dst) AS u,
                  greatest(src, dst) AS v FROM e0),
         nodes AS (SELECT u AS id FROM ec UNION SELECT v FROM ec),
         tri AS MATERIALIZED (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM ec e1 JOIN ec e2 ON e2.u = e1.v
                      JOIN ec e3 ON e3.u = e1.u AND e3.v = e2.v),
         pern AS (
           SELECT id, count(*) AS n FROM (
             SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY id)
         SELECT n.id, CAST(coalesce(p.n, 0) AS BIGINT) AS triangles
         FROM nodes n LEFT JOIN pern p ON p.id = n.id
         ORDER BY n.id""",

    "q148_ohlc_bars" ->
      """WITH e AS (
           SELECT epoch_ns(ts) // 1000000000 AS sec, event_id, value
           FROM events),
         b AS (
           SELECT CAST(floor(CAST(sec AS DOUBLE) / 3600) AS BIGINT)
                    AS bar_id, sec, event_id, value
           FROM e),
         rn AS (
           SELECT *,
                  row_number() OVER (PARTITION BY bar_id
                    ORDER BY sec, event_id) AS rf,
                  row_number() OVER (PARTITION BY bar_id
                    ORDER BY sec DESC, event_id DESC) AS rl
           FROM b)
         SELECT bar_id,
                max(CASE WHEN rf = 1 THEN value END) AS open,
                max(value) AS high, min(value) AS low,
                max(CASE WHEN rl = 1 THEN value END) AS close,
                CAST(count(*) AS BIGINT) AS volume,
                round(CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                      / count(*), 6) AS mean_value
         FROM rn GROUP BY bar_id ORDER BY bar_id""",

    "q156_mergeable_exact" ->
      """SELECT CAST(event_type AS VARCHAR) AS stratum,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
         FROM events GROUP BY 1
         UNION ALL
         SELECT '__all__' AS stratum,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
         FROM events
         ORDER BY stratum""",

    "q157_heavy_hitters" ->
      """WITH d AS (
           SELECT string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (SELECT unnest(toks) AS item FROM d),
         t2 AS (SELECT item FROM tok WHERE item <> ''),
         n AS (SELECT count(*) AS n FROM t2)
         SELECT item, CAST(count(*) AS BIGINT) AS freq
         FROM t2 GROUP BY item
         HAVING count(*) * 200 > (SELECT n FROM n)
         ORDER BY item""",

    "q158_sorted_neighborhood" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         h AS (SELECT doc_id, md5(tok) AS h FROM tk),
         bits AS (
           SELECT doc_id, p,
             sum(CASE WHEN p % 2 = 0
                 THEN CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('1','3','5','7','9','b','d','f')
                      THEN 1 ELSE -1 END
                 ELSE CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('2','3','6','7','a','b','e','f')
                      THEN 1 ELSE -1 END END) AS s
           FROM h CROSS JOIN range(0, 64) r(p)
           GROUP BY doc_id, p),
         bnd AS (
           SELECT doc_id, p // 16 AS band,
             CAST(sum(CASE WHEN s > 0 THEN (1 << (p % 16)) ELSE 0 END)
               AS INTEGER) AS bv
           FROM bits GROUP BY doc_id, p // 16),
         sh AS (
           SELECT doc_id,
             max(CASE WHEN band = 0 THEN bv END) AS s0,
             max(CASE WHEN band = 1 THEN bv END) AS s1,
             max(CASE WHEN band = 2 THEN bv END) AS s2,
             max(CASE WHEN band = 3 THEN bv END) AS s3
           FROM bnd GROUP BY doc_id),
         hx AS (
           SELECT doc_id,
                  printf('%04x%04x%04x%04x', s3, s2, s1, s0) AS hex,
                  s0, s1, s2, s3
           FROM sh),
         pos AS MATERIALIZED (
           SELECT doc_id, s0, s1, s2, s3,
                  row_number() OVER (ORDER BY hex, doc_id) AS pos
           FROM hx)
         SELECT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(CAST(xor(x.s0, y.s0) AS BIGINT))
                   + bit_count(CAST(xor(x.s1, y.s1) AS BIGINT))
                   + bit_count(CAST(xor(x.s2, y.s2) AS BIGINT))
                   + bit_count(CAST(xor(x.s3, y.s3) AS BIGINT))
                  AS INTEGER) AS hamming
         FROM pos x JOIN pos y
           ON y.pos BETWEEN x.pos + 1 AND x.pos + 7
         WHERE bit_count(CAST(xor(x.s0, y.s0) AS BIGINT))
             + bit_count(CAST(xor(x.s1, y.s1) AS BIGINT))
             + bit_count(CAST(xor(x.s2, y.s2) AS BIGINT))
             + bit_count(CAST(xor(x.s3, y.s3) AS BIGINT)) <= 8
         ORDER BY a, b""",

    "q159_decayed_score" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS t, value
           FROM events),
         mx AS (SELECT max(t) AS tmax FROM e),
         d AS (
           SELECT user_id,
                  value / (CAST(1 AS BIGINT) << CAST(least(
                    (tmax - t) // 604800, 62) AS INTEGER)) AS dv
           FROM e, mx)
         SELECT user_id, round(sum(dv), 6) AS decayed_value,
                CAST(count(*) AS BIGINT) AS n_events
         FROM d GROUP BY user_id ORDER BY user_id""",

    "q160_multitouch" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu,
                  event_type, value
           FROM events),
         p AS (SELECT user_id, tsu AS pt, event_id AS purchase_id, value
               FROM e WHERE event_type = 'purchase'),
         c AS (SELECT user_id, tsu AS ct, event_id AS click_id
               FROM e WHERE event_type = 'click'),
         j AS (
           SELECT p.purchase_id, p.value, c.click_id,
                  count(*) OVER (PARTITION BY p.purchase_id) AS n_touch
           FROM p JOIN c ON p.user_id = c.user_id
             AND c.ct <= p.pt AND c.ct > p.pt - 86400000000)
         SELECT click_id, round(sum(value / n_touch), 6) AS credit,
                CAST(count(*) AS BIGINT) AS n_conversions
         FROM j GROUP BY click_id ORDER BY click_id""",

    "q161_moving_avg" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS t,
                  value
           FROM events)
         SELECT event_id,
                round(avg(value) OVER w, 6) AS moving_avg,
                CAST(count(*) OVER w AS BIGINT) AS n_in_window
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY t
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q162_point_in_time" ->
      """WITH ordered AS (
           SELECT o_custkey AS custkey, o_orderpriority AS priority,
                  epoch_ns(o_orderdate) // 1000000000 AS ts,
                  o_orderkey AS ok,
                  lag(o_orderpriority) OVER w AS prev_attr
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey)),
         changes AS (
           SELECT custkey, priority, ts, ok FROM ordered
           WHERE prev_attr IS NULL OR prev_attr != priority),
         iv AS (
           SELECT custkey, priority, ts AS valid_from,
                  lead(ts) OVER (PARTITION BY custkey ORDER BY ts, ok)
                    AS valid_to
           FROM changes),
         live AS MATERIALIZED (
           SELECT custkey, priority, valid_from FROM iv
           WHERE valid_to IS NULL OR valid_to > valid_from),
         pr AS (
           SELECT l_orderkey, l_linenumber, o_custkey AS custkey,
                  epoch_ns(l_shipdate) // 1000000000 AS pts
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT pr.l_orderkey, pr.l_linenumber,
                live.priority AS priority_at_ship
         FROM pr ASOF LEFT JOIN live
           ON pr.custkey = live.custkey AND pr.pts >= live.valid_from
         ORDER BY pr.l_orderkey, pr.l_linenumber""",

    "q163_bfs_hops" ->
      """WITH RECURSIVE li AS (
           SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS pk
           FROM lineitem),
         e0 AS (
           SELECT DISTINCT x.pk AS s, y.pk AS d
           FROM li x JOIN li y ON x.ok = y.ok AND y.ln = x.ln + 1
           WHERE x.pk <> y.pk),
         e AS MATERIALIZED (
           SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
         src AS (SELECT p_partkey AS id FROM part
                 WHERE p_partkey % 97 = 0),
         walk(id, dist) AS (
           SELECT id, 0 FROM src
           UNION
           SELECT e.d, w.dist + 1 FROM walk w JOIN e ON e.s = w.id
           WHERE w.dist < 4)
         SELECT id, CAST(min(dist) AS INTEGER) AS dist
         FROM walk GROUP BY id ORDER BY id""",

    "q164_transitions" ->
      """WITH s AS (
           SELECT event_type AS f,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS nx
           FROM events),
         c AS (SELECT f AS from_state, nx AS to_state, count(*) AS n
               FROM s WHERE nx IS NOT NULL GROUP BY 1, 2)
         SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
                round(CAST(n AS DOUBLE) /
                      CAST(sum(n) OVER (PARTITION BY from_state)
                           AS DOUBLE), 6) AS prob
         FROM c ORDER BY from_state, to_state""",

    "q165_gap_fill" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS t, event_id,
                  value
           FROM events),
         b AS (SELECT user_id, t // 3600 AS bkt, t, event_id, value
               FROM e),
         pb AS (
           SELECT user_id, bkt, value AS v FROM (
             SELECT user_id, bkt, value,
                    row_number() OVER (PARTITION BY user_id, bkt
                      ORDER BY t DESC, event_id DESC) AS rn
             FROM b) WHERE rn = 1),
         span AS (SELECT user_id, min(bkt) AS b0, max(bkt) AS b1
                  FROM b GROUP BY user_id),
         grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
                  FROM span),
         j AS (SELECT g.user_id, g.bucket, pb.v
               FROM grid g LEFT JOIN pb
                 ON pb.user_id = g.user_id AND pb.bkt = g.bucket)
         SELECT user_id, bucket,
                last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                  ORDER BY bucket) AS value_filled
         FROM j ORDER BY user_id, bucket""",

    "q166_pareto_cover" ->
      """WITH r AS (
           SELECT o_custkey AS custkey,
                  sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      (CAST(1 AS DECIMAL(18,4)) -
                       CAST(l_discount AS DECIMAL(18,4)))) AS rev
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1),
         tot AS (SELECT sum(rev) AS t FROM r),
         c AS (SELECT custkey, rev,
                      sum(rev) OVER (ORDER BY rev DESC, custkey) AS cum
               FROM r)
         SELECT custkey, CAST(round(rev, 2) AS DOUBLE) AS revenue
         FROM c, tot WHERE (cum - rev) * 5 < t * 4 ORDER BY custkey""",

    "q167_proration" ->
      """WITH l AS (
           SELECT l_orderkey, l_linenumber,
                  CAST(round(l_quantity) AS BIGINT) AS w,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS total
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         x AS (
           SELECT *, sum(w) OVER (PARTITION BY l_orderkey) AS wsum
           FROM l),
         y AS (
           SELECT *, (total * w) // wsum AS base,
                  (total * w) % wsum AS rem
           FROM x),
         z AS (
           SELECT *,
                  total - sum(base) OVER (PARTITION BY l_orderkey)
                    AS deficit,
                  row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY rem DESC, l_linenumber) AS rnk
           FROM y)
         SELECT l_orderkey, l_linenumber,
                CAST(base + CASE WHEN rnk <= deficit THEN 1 ELSE 0 END
                     AS BIGINT) AS alloc_cents
         FROM z ORDER BY l_orderkey, l_linenumber""",

    "q168_typo_pairs" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_nationkey FROM customer),
         typo AS (
           SELECT c_custkey + 3000000 AS c_custkey,
                  substr(c_name, 1, 16) || substr(c_name, 18, 1)
                    || substr(c_name, 17, 1) AS c_name,
                  c_nationkey
           FROM base WHERE c_custkey % 13 = 0),
         uni AS (SELECT * FROM base UNION ALL SELECT * FROM typo)
         SELECT x.c_custkey AS a, y.c_custkey AS b,
                CAST(damerau_levenshtein(x.c_name, y.c_name) AS INTEGER)
                  AS dist
         FROM uni x JOIN uni y
           ON x.c_nationkey = y.c_nationkey
           AND x.c_custkey < y.c_custkey
         WHERE damerau_levenshtein(x.c_name, y.c_name) <= 1
         ORDER BY a, b""",

    "q169_trend_slope" ->
      """WITH daily AS (
           SELECT event_type,
                  CAST(epoch_ns(ts) // 1000000000 // 86400 - 19700
                       AS INTEGER) AS day,
                  CAST(sum(CAST(value AS DECIMAL(18,4)))
                       AS DECIMAL(18,4)) AS y
           FROM events GROUP BY 1, 2),
         s AS (
           SELECT event_type,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(count(*) AS BIGINT) AS n_points,
                  CAST(sum(day) AS DOUBLE) AS sx,
                  CAST(sum(y) AS DOUBLE) AS sy,
                  CAST(sum(day * y) AS DOUBLE) AS sxy,
                  CAST(sum(day * day) AS DOUBLE) AS sxx
           FROM daily GROUP BY 1)
         SELECT event_type, n_points,
                CASE WHEN n * sxx - sx * sx <> 0 THEN
                  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                END AS slope,
                CASE WHEN n * sxx - sx * sx <> 0 THEN
                  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                         * sx) / n, 6)
                END AS intercept
         FROM s ORDER BY event_type""",

    "q170_rfm" ->
      """WITH m AS (
           SELECT o_custkey AS custkey,
                  CAST(max(epoch_ns(o_orderdate) // 1000000000)
                       AS DOUBLE) AS rec,
                  CAST(count(*) AS DOUBLE) AS freq,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                       AS DOUBLE) AS mon
           FROM orders GROUP BY 1),
         b AS (
           SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS rb,
                  quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fb,
                  quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS mb
           FROM m),
         coded AS (
           SELECT custkey,
                  1 + CAST(rec > rb[1] AS INTEGER)
                    + CAST(rec > rb[2] AS INTEGER)
                    + CAST(rec > rb[3] AS INTEGER)
                    + CAST(rec > rb[4] AS INTEGER) AS r_bin,
                  1 + CAST(freq > fb[1] AS INTEGER)
                    + CAST(freq > fb[2] AS INTEGER)
                    + CAST(freq > fb[3] AS INTEGER)
                    + CAST(freq > fb[4] AS INTEGER) AS f_bin,
                  1 + CAST(mon > mb[1] AS INTEGER)
                    + CAST(mon > mb[2] AS INTEGER)
                    + CAST(mon > mb[3] AS INTEGER)
                    + CAST(mon > mb[4] AS INTEGER) AS m_bin
           FROM m, b)
         SELECT custkey, r_bin, f_bin, m_bin,
                r_bin * 100 + f_bin * 10 + m_bin AS segment
         FROM coded ORDER BY custkey""",

    "q171_gap_histogram" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS tu, event_id
           FROM events),
         g AS (
           SELECT (lead(tu) OVER (PARTITION BY user_id
                     ORDER BY tu, event_id) - tu) // 1000000 AS gap_s
           FROM e),
         binned AS (
           SELECT CASE WHEN gap_s < 60 THEN 'a_lt_1m'
                       WHEN gap_s < 600 THEN 'b_1m_10m'
                       WHEN gap_s < 3600 THEN 'c_10m_1h'
                       WHEN gap_s < 86400 THEN 'd_1h_1d'
                       ELSE 'e_ge_1d' END AS gap_bin
           FROM g WHERE gap_s IS NOT NULL)
         SELECT gap_bin, CAST(count(*) AS BIGINT) AS n_gaps
         FROM binned GROUP BY gap_bin ORDER BY gap_bin""",

    "q172_stream_decayed" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS t, value
           FROM events)
         SELECT user_id,
                round(sum(value / (CAST(1 AS BIGINT) <<
                  CAST(least((1706745600 - t) // 604800, 62)
                       AS INTEGER))), 6) AS decayed_value,
                CAST(count(*) AS BIGINT) AS n_events
         FROM e GROUP BY user_id ORDER BY user_id""",

    "q173_weighted_median" ->
      """WITH pv AS (
           SELECT l_returnflag, l_extendedprice AS v,
                  sum(CAST(round(l_quantity) AS BIGINT)) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (
           SELECT l_returnflag, v,
                  sum(w) OVER (PARTITION BY l_returnflag ORDER BY v)
                    AS cum,
                  sum(w) OVER (PARTITION BY l_returnflag) AS tot
           FROM pv)
         SELECT l_returnflag,
                min(CASE WHEN cum * 2 >= tot THEN v END) AS w_median
         FROM c GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q174_agg_merge" ->
      """SELECT o_custkey AS custkey,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                     AS DOUBLE) AS total,
                min(o_orderdate) AS first_date,
                max(o_orderdate) AS last_date
         FROM orders GROUP BY 1 ORDER BY custkey""",

    "q175_cusum" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tu,
                  CAST(value AS DECIMAL(18,4)) - CAST(60.0 AS
                    DECIMAL(18,4)) AS dev
           FROM events),
         p AS (
           SELECT event_id, user_id, tu,
                  sum(dev) OVER (PARTITION BY user_id
                    ORDER BY tu, event_id) AS pf
           FROM e),
         s AS (
           SELECT event_id, user_id,
                  pf - least(CAST(0 AS DECIMAL(38,4)),
                    min(pf) OVER (PARTITION BY user_id
                      ORDER BY tu, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    AS cusum
           FROM p)
         SELECT event_id, user_id,
                CAST(round(cusum, 4) AS DOUBLE) AS cusum
         FROM s WHERE cusum > 500.0 ORDER BY event_id""",

    "q210_seasonal_anomaly" ->
      """WITH e AS (
           SELECT event_id, event_type,
                  (epoch_ns(ts) // 1000 // 86400000000 + 4) % 7 AS wd,
                  CAST(value AS DECIMAL(18,4)) AS v
           FROM events),
         m AS (
           SELECT event_type, wd,
                  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mu
           FROM e GROUP BY 1, 2),
         r AS (
           SELECT e.event_id, e.event_type, e.wd,
                  round(CAST(e.v AS DOUBLE) - m.mu, 6) AS res
           FROM e JOIN m USING (event_type, wd)),
         med AS (
           SELECT event_type, quantile_cont(res, 0.5) AS med
           FROM r GROUP BY 1),
         mad AS (
           SELECT r.event_type,
                  quantile_cont(abs(r.res - med.med), 0.5) AS mad
           FROM r JOIN med USING (event_type) GROUP BY 1)
         SELECT r.event_id, r.event_type, r.wd, r.res,
                round(med.med, 6) AS med, round(mad.mad, 6) AS mad
         FROM r JOIN med USING (event_type) JOIN mad USING (event_type)
         WHERE abs(r.res - med.med) > 3 * mad.mad
         ORDER BY r.event_id""",

    "q211_skip_rate" ->
      """WITH k AS (
           SELECT user_id % 1024 AS x,
                  CAST(floor(value) AS BIGINT) AS y, event_id
           FROM events),
         z AS (
           SELECT x, y, event_id,
                  CAST(list_sum(list_transform(range(0, 21), i ->
                    (((x >> i) & 1) << (2 * i)) +
                    (((y >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
           FROM k),
         idx AS (
           SELECT x, y, z,
                  row_number() OVER (ORDER BY z, event_id) AS rn
           FROM z),
         env AS (
           SELECT (rn - 1) // 512 AS file_id,
                  min(x) AS x_min, max(x) AS x_max,
                  min(y) AS y_min, max(y) AS y_max
           FROM idx GROUP BY 1),
         tot AS (SELECT count(*) AS total_files FROM env),
         probes AS (
           SELECT d.dim, 16 * r.range AS probe
           FROM range(0, 64) r
           CROSS JOIN (SELECT 'x' AS dim UNION ALL SELECT 'y') d),
         hits AS (
           SELECT p.dim, p.probe, count(e.file_id) AS files_hit
           FROM probes p LEFT JOIN env e
             ON (p.dim = 'x' AND e.x_min <= p.probe
                 AND p.probe <= e.x_max)
             OR (p.dim = 'y' AND e.y_min <= p.probe
                 AND p.probe <= e.y_max)
           GROUP BY 1, 2)
         SELECT h.dim, h.probe, h.files_hit, t.total_files,
                round(1.0 - h.files_hit /
                  CAST(t.total_files AS DOUBLE), 6) AS skip_rate
         FROM hits h, tot t ORDER BY h.dim, h.probe""",

    "q225_stream_drift" ->
      """WITH e AS (
           SELECT (epoch_ns(ts) // 1000000000 // 86400) * 86400
                    AS w_start,
                  least(CAST(floor(value / 50) AS INTEGER), 9) AS bin
           FROM events),
         w AS (
           SELECT w_start, bin, count(*) AS c FROM e GROUP BY 1, 2),
         ref AS (
           SELECT least(CAST(floor(value / 50) AS INTEGER), 9) AS bin,
                  count(*) AS rc
           FROM events GROUP BY 1),
         nref AS (SELECT count(*) AS nr FROM events),
         spine AS (
           SELECT d.w_start, CAST(g.range AS INTEGER) AS bin
           FROM (SELECT DISTINCT w_start FROM w) d
           CROSS JOIN range(0, 10) g),
         cells AS (
           SELECT s.w_start, s.bin,
                  CAST(coalesce(w.c, 0) AS BIGINT) AS c,
                  CAST(coalesce(ref.rc, 0) AS BIGINT) AS rc
           FROM spine s
           LEFT JOIN w ON s.w_start = w.w_start AND s.bin = w.bin
           LEFT JOIN ref ON s.bin = ref.bin),
         tot AS (
           SELECT w_start, CAST(sum(c) AS BIGINT) AS n
           FROM cells GROUP BY 1),
         ctr AS (
           SELECT c.w_start, t.n,
                  CAST(round(
                    (CAST(c.c + 1 AS DOUBLE) / CAST(t.n + 10 AS DOUBLE)
                     - CAST(c.rc + 1 AS DOUBLE)
                       / CAST(n2.nr + 10 AS DOUBLE))
                    * ln((CAST(c.c + 1 AS DOUBLE)
                          / CAST(t.n + 10 AS DOUBLE))
                         / (CAST(c.rc + 1 AS DOUBLE)
                            / CAST(n2.nr + 10 AS DOUBLE))), 6)
                    AS DECIMAL(18,6)) AS contrib
           FROM cells c JOIN tot t USING (w_start) CROSS JOIN nref n2)
         SELECT w_start, max(n) AS n,
                CAST(sum(contrib) AS DOUBLE) AS psi
         FROM ctr GROUP BY 1 ORDER BY w_start""",

    "q224_clustering_coeff" ->
      """WITH e0 AS (
           SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND y.l_linenumber = x.l_linenumber + 1
           WHERE x.l_partkey != y.l_partkey),
         ec AS MATERIALIZED (
           SELECT DISTINCT least(src, dst) AS u,
                  greatest(src, dst) AS v FROM e0),
         nb AS (SELECT u AS id FROM ec UNION ALL SELECT v FROM ec),
         deg AS (
           SELECT id, CAST(count(*) AS BIGINT) AS deg
           FROM nb GROUP BY 1),
         tri AS MATERIALIZED (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM ec e1 JOIN ec e2 ON e2.u = e1.v
                      JOIN ec e3 ON e3.u = e1.u AND e3.v = e2.v),
         pern AS (
           SELECT id, count(*) AS n FROM (
             SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY id)
         SELECT d.id, d.deg,
                CAST(coalesce(p.n, 0) AS BIGINT) AS triangles,
                CASE WHEN d.deg >= 2 THEN
                  round(CAST(2 * coalesce(p.n, 0) AS DOUBLE)
                        / (d.deg * (d.deg - 1)), 6)
                END AS lcc
         FROM deg d LEFT JOIN pern p ON p.id = d.id
         ORDER BY d.id""",

    "q222_modularity" ->
      """WITH it AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (
           SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
           FROM it x JOIN it y
             ON x.l_orderkey = y.l_orderkey
            AND x.l_partkey < y.l_partkey),
         m AS (SELECT count(*) AS m FROM e),
         nb AS (SELECT u AS v0, v AS n FROM e
                UNION ALL SELECT v, u FROM e),
         deg AS (SELECT v0, count(*) AS deg FROM nb GROUP BY 1),
         nc AS (
           SELECT d.v0, d.deg, p.p_brand AS comm
           FROM deg d JOIN part p ON d.v0 = p.p_partkey),
         dc AS (
           SELECT comm, CAST(sum(deg) AS BIGINT) AS d_c
           FROM nc GROUP BY 1),
         ec AS (
           SELECT a.comm, CAST(count(*) AS BIGINT) AS e_c
           FROM e JOIN nc a ON e.u = a.v0
                  JOIN nc b ON e.v = b.v0 AND a.comm = b.comm
           GROUP BY 1)
         SELECT dc.comm AS community,
                coalesce(ec.e_c, 0) AS e_c, dc.d_c,
                round(CAST(coalesce(ec.e_c, 0) AS DOUBLE)
                        / CAST(m.m AS DOUBLE)
                      - (CAST(dc.d_c AS DOUBLE)
                          / CAST(2 * m.m AS DOUBLE))
                        * (CAST(dc.d_c AS DOUBLE)
                          / CAST(2 * m.m AS DOUBLE)), 9) AS q_c
         FROM dc LEFT JOIN ec USING (comm) CROSS JOIN m
         ORDER BY community""",

    "q223_assortativity" ->
      """WITH it AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (
           SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
           FROM it x JOIN it y
             ON x.l_orderkey = y.l_orderkey
            AND x.l_partkey < y.l_partkey),
         nb AS (SELECT u AS v0, v AS n FROM e
                UNION ALL SELECT v, u FROM e),
         deg AS (SELECT v0, count(*) AS deg FROM nb GROUP BY 1),
         pairs AS (
           SELECT a.deg AS dx, b.deg AS dy
           FROM nb JOIN deg a ON nb.v0 = a.v0
                   JOIN deg b ON nb.n = b.v0),
         s AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(dx AS DECIMAL(19,0))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(dy AS DECIMAL(19,0))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(dx AS DECIMAL(19,0))
                         * CAST(dx AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(dy AS DECIMAL(19,0))
                         * CAST(dy AS DECIMAL(19,0))) AS DOUBLE) AS syy,
                  CAST(sum(CAST(dx AS DECIMAL(19,0))
                         * CAST(dy AS DECIMAL(19,0))) AS DOUBLE) AS sxy
           FROM pairs)
         SELECT n AS n_directed,
                CASE WHEN n * sxx - sx * sx > 0 THEN
                  round((n * sxy - sx * sx) /
                        (n * sxx - sx * sx), 6)
                END AS assortativity
         FROM s""",

    "q221_quantile_normalize" ->
      """WITH base AS (
           SELECT doc_id, source, n_chars FROM documents
           WHERE n_chars IS NOT NULL),
         g AS (
           SELECT source, n_chars, count(*) AS c
           FROM base GROUP BY 1, 2),
         gc AS (
           SELECT source, n_chars, c,
                  coalesce(sum(c) OVER (PARTITION BY source
                    ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS below
           FROM g),
         ng AS (SELECT source, sum(c) AS n_g FROM g GROUP BY 1),
         nt AS (SELECT count(*) AS n FROM base),
         gl AS (
           SELECT n_chars AS gv, count(*) AS gcnt
           FROM base GROUP BY 1),
         gi AS (
           SELECT gv,
                  coalesce(sum(gcnt) OVER (ORDER BY gv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS lo,
                  coalesce(sum(gcnt) OVER (ORDER BY gv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + gcnt AS hi
           FROM gl),
         gin AS (
           SELECT a.gv, a.lo, a.hi, b.gv AS gvnext
           FROM gi a LEFT JOIN gi b ON a.hi = b.lo),
         pos AS (
           SELECT gc.source, gc.n_chars,
                  CASE WHEN ng.n_g > 1 THEN
                    CAST(2 * gc.below + gc.c - 1 AS DOUBLE)
                      * (nt.n - 1) / (2 * (ng.n_g - 1))
                  ELSE 0.5 * (nt.n - 1) END AS p
           FROM gc JOIN ng USING (source) CROSS JOIN nt),
         k AS (
           SELECT source, n_chars, CAST(floor(p) AS BIGINT) AS klo,
                  p - floor(p) AS frac
           FROM pos),
         m AS (
           SELECT k.source, k.n_chars,
                  round((1.0 - k.frac) * CAST(g.gv AS DOUBLE)
                    + k.frac * coalesce(
                        CAST(CASE WHEN k.klo + 1 < g.hi THEN g.gv
                             ELSE g.gvnext END AS DOUBLE),
                        CAST(g.gv AS DOUBLE)), 6) AS qnorm
           FROM k JOIN gin g ON k.klo >= g.lo AND k.klo < g.hi)
         SELECT b.doc_id, b.source, b.n_chars, m.qnorm
         FROM base b JOIN m USING (source, n_chars)
         ORDER BY b.doc_id""",

    "q220_embedding_gram" ->
      """WITH e AS (
           SELECT label, vec_id, CAST(g.range AS INTEGER) AS i,
                  CAST(embedding[g.range + 1] AS DOUBLE) AS x
           FROM embeddings CROSS JOIN range(0, 64) g),
         p AS (
           SELECT a.label, a.i AS i, b.i AS j,
                  sum(CAST(floor(a.x * b.x * 1000000.0 + 0.5)
                           AS BIGINT)) AS q
           FROM e a JOIN e b
             ON a.vec_id = b.vec_id AND a.label = b.label
            AND a.i <= b.i
           GROUP BY 1, 2, 3)
         SELECT label, i, j,
                round(CAST(q AS DOUBLE) / 1000000.0, 6) AS gram
         FROM p ORDER BY label, i, j""",

    "q217_ndcg" ->
      """WITH e AS (
           SELECT user_id, value, event_id,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS rel
           FROM events),
         r AS (
           SELECT user_id, rel,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id) AS rn,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY rel DESC, event_id) AS irn
           FROM e),
         a AS (
           SELECT user_id,
                  sum(CASE WHEN rn <= 5 THEN
                        CAST(round(rel / log2(rn + 1.0), 9)
                             AS DECIMAL(18,9))
                      ELSE CAST(0 AS DECIMAL(18,9)) END) AS dcg,
                  sum(CASE WHEN irn <= 5 THEN
                        CAST(round(rel / log2(irn + 1.0), 9)
                             AS DECIMAL(18,9))
                      ELSE CAST(0 AS DECIMAL(18,9)) END) AS idcg
           FROM r GROUP BY 1)
         SELECT user_id, CAST(dcg AS DOUBLE) AS dcg,
                CAST(idcg AS DOUBLE) AS idcg,
                CASE WHEN idcg > 0 THEN
                  round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
                END AS ndcg
         FROM a ORDER BY user_id""",

    "q218_pr_curve" ->
      """WITH e AS (
           SELECT value, (event_type = 'purchase') AS pos FROM events),
         b AS (
           SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                        0.6, 0.7, 0.8, 0.9]) AS qb
           FROM e),
         th AS (
           SELECT 0.1 * g.range AS prob, qb[g.range] AS threshold
           FROM b CROSS JOIN range(1, 10) g),
         agg AS (
           SELECT th.prob, th.threshold,
                  CAST(sum(CASE WHEN pos AND value > threshold
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(sum(CASE WHEN NOT pos AND value > threshold
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                  CAST(sum(CASE WHEN pos AND NOT (value > threshold)
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
           FROM e CROSS JOIN th GROUP BY 1, 2)
         SELECT prob, round(threshold, 6) AS threshold, tp, fp, fn,
                CASE WHEN tp + fp > 0 THEN
                  round(CAST(tp AS DOUBLE) / (tp + fp), 6) END
                  AS precision,
                CASE WHEN tp + fn > 0 THEN
                  round(CAST(tp AS DOUBLE) / (tp + fn), 6) END
                  AS recall,
                CASE WHEN 2 * tp + fp + fn > 0 THEN
                  round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1
         FROM agg ORDER BY prob""",

    "q219_spearman" ->
      """WITH base AS (
           SELECT l_returnflag AS k, l_quantity AS x,
                  l_extendedprice AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL
             AND l_extendedprice IS NOT NULL),
         cx AS (
           SELECT k, x, count(*) AS c FROM base GROUP BY 1, 2),
         rx AS (
           SELECT k, x,
                  2 * coalesce(sum(c) OVER (PARTITION BY k ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + c + 1 AS r2
           FROM cx),
         cy AS (
           SELECT k, y, count(*) AS c FROM base GROUP BY 1, 2),
         ry AS (
           SELECT k, y,
                  2 * coalesce(sum(c) OVER (PARTITION BY k ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + c + 1 AS r2
           FROM cy),
         j AS (
           SELECT base.k, rx.r2 AS a, ry.r2 AS b
           FROM base JOIN rx ON base.k = rx.k AND base.x = rx.x
                     JOIN ry ON base.k = ry.k AND base.y = ry.y),
         s AS (
           SELECT k, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(a AS DECIMAL(19,0))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(b AS DECIMAL(19,0))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(a AS DECIMAL(19,0))
                         * CAST(a AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(b AS DECIMAL(19,0))
                         * CAST(b AS DECIMAL(19,0))) AS DOUBLE) AS syy,
                  CAST(sum(CAST(a AS DECIMAL(19,0))
                         * CAST(b AS DECIMAL(19,0))) AS DOUBLE) AS sxy
           FROM j GROUP BY 1)
         SELECT k AS l_returnflag, n,
                CASE WHEN n * sxx - sx * sx > 0
                      AND n * syy - sy * sy > 0 THEN
                  round((n * sxy - sx * sy) /
                    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                END AS spearman
         FROM s ORDER BY l_returnflag""",

    "q212_auc" ->
      """WITH e AS (
           SELECT (epoch_ns(ts) // 1000 // 86400000000 + 4) % 7 AS wd,
                  value, (event_type = 'purchase') AS pos
           FROM events),
         c AS (
           SELECT wd, value,
                  sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pc,
                  sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nc
           FROM e GROUP BY 1, 2),
         w AS (
           SELECT wd, pc, nc,
                  coalesce(sum(nc) OVER (PARTITION BY wd ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cnb
           FROM c)
         SELECT wd, CAST(sum(pc) AS BIGINT) AS positives,
                CAST(sum(nc) AS BIGINT) AS negatives,
                round(CAST(sum(pc * (2 * cnb + nc)) AS DOUBLE) /
                  (2.0 * sum(pc) * sum(nc)), 9) AS auc
         FROM w GROUP BY 1 ORDER BY wd""",

    "q213_gini" ->
      """WITH m AS (
           SELECT o_custkey,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                       AS DECIMAL(18,4)) AS spend
           FROM orders GROUP BY 1),
         k AS (
           SELECT c.c_nationkey, m.spend,
                  row_number() OVER (PARTITION BY c.c_nationkey
                    ORDER BY m.spend, m.o_custkey) AS rn
           FROM m JOIN customer c ON m.o_custkey = c.c_custkey)
         SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
                round(CAST(2 * sum(rn * spend)
                        - (count(*) + 1) * sum(spend) AS DOUBLE) /
                      CAST(count(*) * sum(spend) AS DOUBLE), 9) AS gini
         FROM k GROUP BY 1 ORDER BY c_nationkey""",

    "q214_item_similarity" ->
      """WITH it AS (
           SELECT DISTINCT l_orderkey, l_partkey % 500 AS item
           FROM lineitem),
         ic AS (SELECT item, count(*) AS c FROM it GROUP BY 1),
         p AS (
           SELECT x.item AS a, y.item AS b, count(*) AS n_ab
           FROM it x JOIN it y
             ON x.l_orderkey = y.l_orderkey AND x.item < y.item
           GROUP BY 1, 2 HAVING count(*) >= 3),
         sym AS (SELECT a, b, n_ab FROM p
                 UNION ALL SELECT b, a, n_ab FROM p),
         sc AS (
           SELECT s.a AS item, s.b AS neighbor, s.n_ab,
                  round(s.n_ab / sqrt(ca.c * CAST(cb.c AS DOUBLE)), 6)
                    AS cosine
           FROM sym s JOIN ic ca ON s.a = ca.item
                      JOIN ic cb ON s.b = cb.item),
         r AS (
           SELECT item, neighbor, n_ab, cosine,
                  CAST(row_number() OVER (PARTITION BY item
                    ORDER BY cosine DESC, neighbor) AS INTEGER) AS rank
           FROM sc)
         SELECT item, neighbor, n_ab, cosine, rank
         FROM r WHERE rank <= 3 ORDER BY item, rank""",

    "q215_benford" ->
      """WITH d AS (
           SELECT o_orderpriority,
                  CAST(regexp_extract(CAST(CAST(o_totalprice
                    AS DECIMAL(18,2)) AS VARCHAR), '[1-9]')
                    AS INTEGER) AS digit
           FROM orders
           WHERE regexp_extract(CAST(CAST(o_totalprice
                   AS DECIMAL(18,2)) AS VARCHAR), '[1-9]') <> ''),
         o AS (
           SELECT o_orderpriority, digit, count(*) AS obs
           FROM d GROUP BY 1, 2),
         spine AS (
           SELECT k.o_orderpriority, CAST(g.range AS INTEGER) AS digit
           FROM (SELECT DISTINCT o_orderpriority FROM d) k
           CROSS JOIN range(1, 10) g),
         cells AS (
           SELECT s.o_orderpriority, s.digit,
                  CAST(coalesce(o.obs, 0) AS BIGINT) AS obs
           FROM spine s LEFT JOIN o
             ON s.o_orderpriority = o.o_orderpriority
            AND s.digit = o.digit),
         w AS (
           SELECT o_orderpriority, digit, obs,
                  sum(obs) OVER (PARTITION BY o_orderpriority) AS n,
                  CAST(sum(obs) OVER (PARTITION BY o_orderpriority)
                       AS DOUBLE)
                    * log10(1.0 + 1.0 / digit) AS expd
           FROM cells),
         c AS (
           SELECT *, CAST(round((obs - expd) * (obs - expd) / expd, 6)
                          AS DECIMAL(18,6)) AS contrib
           FROM w)
         SELECT o_orderpriority, digit, obs, CAST(n AS BIGINT) AS n,
                round(expd, 4) AS expected,
                round(CAST(obs AS DOUBLE) / n, 6) AS obs_share,
                CAST(sum(contrib) OVER (PARTITION BY o_orderpriority)
                     AS DOUBLE) AS chi2
         FROM c ORDER BY o_orderpriority, digit""",

    "q216_calibration" ->
      """WITH e AS (
           SELECT value, (event_type = 'purchase') AS pos FROM events),
         b AS (
           SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                        0.6, 0.7, 0.8, 0.9]) AS qb
           FROM e),
         coded AS (
           SELECT e.value, e.pos,
                  1 + CAST(value > qb[1] AS INTEGER)
                    + CAST(value > qb[2] AS INTEGER)
                    + CAST(value > qb[3] AS INTEGER)
                    + CAST(value > qb[4] AS INTEGER)
                    + CAST(value > qb[5] AS INTEGER)
                    + CAST(value > qb[6] AS INTEGER)
                    + CAST(value > qb[7] AS INTEGER)
                    + CAST(value > qb[8] AS INTEGER)
                    + CAST(value > qb[9] AS INTEGER) AS decile
           FROM e, b)
         SELECT decile, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                      / count(*), 6) AS mean_score,
                round(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
                           AS DOUBLE) / count(*), 6) AS pos_rate
         FROM coded GROUP BY 1 ORDER BY decile""",

    "q208_personalized_pagerank" ->
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND y.l_linenumber = x.l_linenumber + 1
           WHERE x.l_partkey != y.l_partkey),
         nodes AS MATERIALIZED (
           SELECT src AS id FROM e UNION SELECT dst FROM e),
         seeds AS MATERIALIZED (
           SELECT n.id FROM nodes n JOIN part p
             ON p.p_partkey = n.id
           WHERE p.p_partkey % 500 = 0),
         ns AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM seeds),
         rv AS MATERIALIZED (
           SELECT n.id,
                  CASE WHEN s.id IS NOT NULL
                       THEN 1.0 / (SELECT c FROM ns)
                       ELSE CAST(0 AS DOUBLE) END AS s
           FROM nodes n LEFT JOIN seeds s ON s.id = n.id),
         deg AS MATERIALIZED (
           SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         p0 AS (SELECT id, s AS ppr FROM rv),
         p1 AS MATERIALIZED (
           SELECT rv.id, 0.15 * rv.s + 0.85 * coalesce(m.s, 0) AS ppr
           FROM rv LEFT JOIN (
             SELECT e.dst AS id, sum(p.ppr / d.outdeg) AS s
             FROM e JOIN p0 p ON p.id = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = rv.id),
         p2 AS MATERIALIZED (
           SELECT rv.id, 0.15 * rv.s + 0.85 * coalesce(m.s, 0) AS ppr
           FROM rv LEFT JOIN (
             SELECT e.dst AS id, sum(p.ppr / d.outdeg) AS s
             FROM e JOIN p1 p ON p.id = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = rv.id),
         p3 AS (
           SELECT rv.id, 0.15 * rv.s + 0.85 * coalesce(m.s, 0) AS ppr
           FROM rv LEFT JOIN (
             SELECT e.dst AS id, sum(p.ppr / d.outdeg) AS s
             FROM e JOIN p2 p ON p.id = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = rv.id)
         SELECT id, round(ppr, 9) AS ppr FROM p3 ORDER BY id""",

    "q231_weighted_pagerank" ->
      """WITH pairs AS MATERIALIZED (
           SELECT least(x.l_partkey, y.l_partkey) AS u,
                  greatest(x.l_partkey, y.l_partkey) AS v,
                  count(*) AS support
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND x.l_linenumber < y.l_linenumber
           WHERE x.l_partkey != y.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS MATERIALIZED (
           SELECT u AS src, v AS dst, support AS w FROM pairs
           UNION ALL
           SELECT v AS src, u AS dst, support AS w FROM pairs),
         nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes),
         wo AS MATERIALIZED (
           SELECT src, CAST(sum(w) AS BIGINT) AS wout
           FROM e GROUP BY src),
         p0 AS (SELECT id, 1.0 / (SELECT c FROM nn) AS pr FROM nodes),
         p1 AS MATERIALIZED (
           SELECT nd.id, 0.15 / (SELECT c FROM nn)
                  + 0.85 * coalesce(m.s, 0) AS pr
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id,
                    sum(p.pr * (CAST(e.w AS DOUBLE) / d.wout)) AS s
             FROM e JOIN p0 p ON p.id = e.src
                    JOIN wo d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = nd.id),
         p2 AS MATERIALIZED (
           SELECT nd.id, 0.15 / (SELECT c FROM nn)
                  + 0.85 * coalesce(m.s, 0) AS pr
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id,
                    sum(p.pr * (CAST(e.w AS DOUBLE) / d.wout)) AS s
             FROM e JOIN p1 p ON p.id = e.src
                    JOIN wo d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = nd.id),
         p3 AS (
           SELECT nd.id, 0.15 / (SELECT c FROM nn)
                  + 0.85 * coalesce(m.s, 0) AS pr
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id,
                    sum(p.pr * (CAST(e.w AS DOUBLE) / d.wout)) AS s
             FROM e JOIN p2 p ON p.id = e.src
                    JOIN wo d ON d.src = e.src
             GROUP BY e.dst) m ON m.id = nd.id)
         SELECT id, round(pr, 9) AS pr FROM p3 ORDER BY id""",

    "q232_overlap_rule_join" ->
      """WITH o AS (
           SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
           FROM orders),
         a AS (SELECT o_orderkey AS a_id, cents - 5000 AS a_lo,
                      cents + 5000 AS a_hi
               FROM o WHERE o_orderkey % 75 = 0),
         b AS (SELECT o_orderkey AS b_id, cents - 5000 AS b_lo,
                      cents + 5000 AS b_hi
               FROM o WHERE o_orderkey % 90 = 0)
         SELECT a_id, b_id
         FROM a JOIN b
           ON a_lo <= b_hi AND b_lo <= a_hi AND a_id != b_id
         ORDER BY a_id, b_id""",

    "q233_rbo" ->
      """WITH rev AS (
           SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                    AS v
           FROM lineitem GROUP BY 1
           ORDER BY v DESC, l_partkey LIMIT 50),
         qty AS (
           SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS v
           FROM lineitem GROUP BY 1
           ORDER BY v DESC, l_partkey LIMIT 50),
         ra AS (SELECT l_partkey, row_number() OVER (
                  ORDER BY v DESC, l_partkey) AS ra FROM rev),
         rb AS (SELECT l_partkey, row_number() OVER (
                  ORDER BY v DESC, l_partkey) AS rb FROM qty),
         items AS (
           SELECT greatest(ra.ra, rb.rb) AS m
           FROM ra JOIN rb USING (l_partkey)),
         depths AS (
           SELECT d, pow(0.9, CAST(d AS DOUBLE) - 1) /
                     CAST(d AS DOUBLE) AS wd
           FROM range(1, 51) t(d))
         SELECT CAST(count(*) AS BIGINT) AS pairs_depths,
                round(0.1 * sum(wd), 6) AS rbo
         FROM items JOIN depths ON m <= d""",

    "q234_stream_reservoir" ->
      """WITH h AS (
           SELECT event_type,
                  CAST('0x' || substr(md5('rq:' ||
                    CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS hsh,
                  CAST(value AS DOUBLE) AS v
           FROM events),
         r AS (
           SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY hsh, v) AS rn
           FROM h),
         smp AS (SELECT event_type, v FROM r WHERE rn <= 256),
         srt AS (
           SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY v) AS vr,
                  count(*) OVER (PARTITION BY event_type) AS m
           FROM smp)
         SELECT event_type, CAST(max(m) AS BIGINT) AS n_sample,
                round(max(CASE WHEN vr = greatest(1,
                  CAST(ceil(0.25 * m) AS BIGINT)) THEN v END), 6) AS p25,
                round(max(CASE WHEN vr = greatest(1,
                  CAST(ceil(0.50 * m) AS BIGINT)) THEN v END), 6) AS p50,
                round(max(CASE WHEN vr = greatest(1,
                  CAST(ceil(0.90 * m) AS BIGINT)) THEN v END), 6) AS p90
         FROM srt GROUP BY event_type ORDER BY event_type""",

    "q235_bootstrap_ci" ->
      """WITH base AS (
           SELECT event_id, CAST(value AS DECIMAL(18,4)) AS v
           FROM events WHERE event_type = 'purchase'),
         fan AS (
           SELECT r.d AS r, b.v,
                  CAST('0x' || substr(md5('bs:' || CAST(r.d AS VARCHAR)
                    || ':' || CAST(b.event_id AS VARCHAR)), 1, 15)
                    AS BIGINT) / 1152921504606846976.0 AS u
           FROM base b, range(0, 50) r(d)),
         wts AS (
           SELECT r, v,
                  CASE WHEN u < 0.3678794411714423 THEN 0
                       WHEN u < 0.7357588823428846 THEN 1
                       WHEN u < 0.9196986029286058 THEN 2
                       WHEN u < 0.9810118431238462 THEN 3
                       WHEN u < 0.9963401531726563 THEN 4
                       WHEN u < 0.9994058151824183 THEN 5
                       ELSE 6 END AS w
           FROM fan),
         means AS (
           SELECT r, CAST(sum(v * w) AS DOUBLE) /
                     CAST(sum(w) AS DOUBLE) AS m
           FROM wts GROUP BY r),
         rk AS (SELECT m, row_number() OVER (ORDER BY m) AS rn
                FROM means)
         SELECT CAST(count(*) AS BIGINT) AS n_replicates,
                round(max(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
                round(max(CASE WHEN rn = 49 THEN m END), 6) AS ci_hi
         FROM rk""",

    "q236_concurrency" ->
      """WITH iv AS (
           SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day,
                  min(epoch_ns(ts) // 1000 // 60000000) AS s,
                  max(epoch_ns(ts) // 1000 // 60000000) AS e
           FROM events GROUP BY 1, 2),
         dl AS (
           SELECT t, CAST(sum(d) AS BIGINT) AS delta
           FROM (SELECT s AS t, 1 AS d FROM iv
                 UNION ALL SELECT e + 1 AS t, -1 AS d FROM iv)
           GROUP BY t HAVING sum(d) != 0)
         SELECT t, delta,
                CAST(sum(delta) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS concurrency
         FROM dl ORDER BY t""",

    "q237_theilsen" ->
      """WITH daily AS (
           SELECT event_type,
                  epoch_ns(ts) // 1000 // 86400000000 AS day,
                  sum(CAST(value AS DECIMAL(18,4))) AS rev
           FROM events GROUP BY 1, 2),
         pairs AS (
           SELECT a.event_type, a.day AS xa, b.day AS xb,
                  CAST(b.rev - a.rev AS DOUBLE) /
                  CAST(b.day - a.day AS DOUBLE) AS s
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND a.day < b.day),
         r AS (
           SELECT event_type, s,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY s, xa, xb) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM pairs)
         SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
                round(s, 6) AS ts_slope
         FROM r WHERE rn = (n + 1) // 2
         ORDER BY event_type""",

    "q238_trimmed_mean" ->
      """WITH r AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY value, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         k AS (
           SELECT * FROM r
           WHERE rn > CAST(floor(0.05 * n) AS BIGINT)
             AND rn <= n - CAST(floor(0.05 * n) AS BIGINT))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
                round(CAST(sum(CAST(value AS DECIMAL(18,4)))
                  AS DOUBLE) / count(*), 6) AS trimmed_mean
         FROM k GROUP BY 1 ORDER BY 1""",

    "q239_growth_accounting" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
                  epoch_ns(ts) // 1000 // 86400000000 AS day
           FROM events),
         c AS (
           SELECT user_id, day,
                  lag(day) OVER (PARTITION BY user_id ORDER BY day)
                    AS prev
           FROM ud)
         SELECT day, CAST(count(*) AS BIGINT) AS active,
                CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
                CAST(sum(CASE WHEN prev IS NOT NULL AND day - prev <= 7
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
                CAST(sum(CASE WHEN prev IS NOT NULL AND day - prev > 7
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
         FROM c GROUP BY day ORDER BY day""",

    "q240_prefix_compression" ->
      """WITH d AS (
           SELECT source, coalesce(text, '') AS t,
                  lag(coalesce(text, '')) OVER (PARTITION BY source
                    ORDER BY coalesce(text, '')) AS prev
           FROM documents),
         l AS (
           SELECT source, t,
                  CASE WHEN prev IS NULL THEN 0
                       WHEN least(len(t), len(prev)) < 1 THEN 0
                       ELSE len(list_filter(
                         range(1, least(len(t), len(prev)) + 1),
                         i -> substr(t, 1, i) = substr(prev, 1, i)))
                  END AS lcp
           FROM d)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(t)) AS BIGINT) AS total_chars,
                CAST(sum(lcp) AS BIGINT) AS shared_prefix_chars,
                round(CAST(sum(lcp) AS DOUBLE) /
                  CAST(sum(len(t)) AS DOUBLE), 6) AS compressible_frac
         FROM l GROUP BY source ORDER BY source""",

    "q241_vocab_coverage" ->
      """WITH d AS (
           SELECT source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT source, unnest(toks) AS token FROM d
           WHERE len(toks) > 0 AND toks != ['']),
         vc AS (
           SELECT token FROM (
             SELECT token, count(*) AS c FROM tok GROUP BY 1
             ORDER BY c DESC, token LIMIT 1000)),
         tot AS (SELECT source, count(*) AS total_tokens
                 FROM tok GROUP BY 1),
         cov AS (SELECT source, count(*) AS covered
                 FROM tok JOIN vc USING (token) GROUP BY 1)
         SELECT source, CAST(total_tokens AS BIGINT) AS total_tokens,
                CAST(coalesce(covered, 0) AS BIGINT) AS covered_tokens,
                round(1.0 - coalesce(covered, 0) /
                  CAST(total_tokens AS DOUBLE), 6) AS oov_rate
         FROM tot LEFT JOIN cov USING (source) ORDER BY source""",

    "q242_js_divergence" ->
      """WITH d AS (
           SELECT source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT source, unnest(toks) AS token FROM d
           WHERE len(toks) > 0 AND toks != ['']),
         bg AS (SELECT source AS g, token, count(*) AS c
                FROM tok GROUP BY 1, 2),
         tots AS (SELECT g, CAST(sum(c) AS DOUBLE) AS n
                  FROM bg GROUP BY 1),
         p AS (SELECT g, token, CAST(c AS DOUBLE) / n AS p
               FROM bg JOIN tots USING (g)),
         pairs AS (SELECT a.g AS ga, b.g AS gb
                   FROM tots a, tots b WHERE a.g < b.g),
         sa AS (SELECT ga, gb, token, p.p AS pa
                FROM pairs JOIN p ON p.g = pairs.ga),
         sb AS (SELECT ga, gb, token, p.p AS pb
                FROM pairs JOIN p ON p.g = pairs.gb),
         cells AS (
           SELECT ga, gb, token, pa, pb
           FROM sa FULL JOIN sb USING (ga, gb, token))
         SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_union_tokens,
                round(sum(
                  CASE WHEN pa IS NOT NULL THEN 0.5 * pa *
                    ln(pa / ((coalesce(pa, 0) + coalesce(pb, 0)) / 2))
                  ELSE 0 END +
                  CASE WHEN pb IS NOT NULL THEN 0.5 * pb *
                    ln(pb / ((coalesce(pa, 0) + coalesce(pb, 0)) / 2))
                  ELSE 0 END), 6) AS js
         FROM cells GROUP BY ga, gb ORDER BY ga, gb""",

    "q243_embedding_dispersion" ->
      """WITH z AS (
           SELECT label, vec_id,
                  unnest(CAST(embedding AS DOUBLE[])) AS x,
                  unnest(range(1, len(embedding) + 1)) AS pos
           FROM embeddings),
         comp AS (
           SELECT label, pos,
                  CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT))
                    AS BIGINT) AS gs
           FROM z GROUP BY 1, 2),
         cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
         c2 AS (
           SELECT c.label,
                  sum((gs / 1e6 / n) * (gs / 1e6 / n)) AS c2
           FROM comp c JOIN cnt USING (label) GROUP BY c.label),
         sq AS (
           SELECT label,
                  sum(CAST(round(list_dot_product(
                    CAST(embedding AS DOUBLE[]),
                    CAST(embedding AS DOUBLE[])), 6)
                    AS DECIMAL(28,6))) AS sumsq
           FROM embeddings GROUP BY 1)
         SELECT label, CAST(cnt.n AS BIGINT) AS n,
                round(sqrt(c2.c2), 6) AS centroid_norm,
                round(CAST(sumsq AS DOUBLE) / cnt.n, 6) AS mean_sq_norm,
                round(CAST(sumsq AS DOUBLE) / cnt.n - c2.c2, 6)
                  AS dispersion
         FROM cnt JOIN c2 USING (label) JOIN sq USING (label)
         ORDER BY label""",

    "q244_ks_test" ->
      """WITH c AS (
           SELECT n_chars AS v,
                  sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                    AS ca,
                  sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                    AS cb
           FROM documents
           WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL
           GROUP BY 1),
         r AS (
           SELECT v,
                  sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS cuma,
                  sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS cumb,
                  sum(ca) OVER () AS na,
                  sum(cb) OVER () AS nb
           FROM c),
         d AS (SELECT v, abs(cuma * nb - cumb * na) AS dd, na, nb
               FROM r)
         SELECT CAST(max(na) AS BIGINT) AS n_a,
                CAST(max(nb) AS BIGINT) AS n_b,
                CAST(min(CASE WHEN dd = (SELECT max(dd) FROM d)
                  THEN v END) AS BIGINT) AS ks_at,
                round(CAST(max(dd) AS DOUBLE) /
                  CAST(max(na) * max(nb) AS DOUBLE), 6) AS ks_stat
         FROM d""",

    "q268_negative_sampling" ->
      """WITH pos AS (
           SELECT DISTINCT o.o_custkey AS custkey,
                  l.l_partkey AS partkey
           FROM lineitem l JOIN orders o
             ON l.l_orderkey = o.o_orderkey),
         np AS (SELECT count(*) AS np FROM part),
         cands AS (
           SELECT custkey, CAST(i AS INTEGER) AS i,
                  CAST('0x' || substr(md5('neg:' ||
                    CAST(custkey AS VARCHAR) || ':' ||
                    CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % np + 1
                    AS neg_partkey
           FROM (SELECT DISTINCT custkey FROM pos), np,
                range(0, 3) r(i))
         SELECT c.custkey, c.i, c.neg_partkey
         FROM cands c ANTI JOIN pos p
           ON c.custkey = p.custkey AND c.neg_partkey = p.partkey
         ORDER BY c.custkey, c.i""",

    "q270_robust_scale" ->
      """WITH d AS (
           SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS v
           FROM documents),
         b AS (
           SELECT source, quantile_cont(v, 0.25) AS q1,
                  quantile_cont(v, 0.5) AS med,
                  quantile_cont(v, 0.75) AS q3
           FROM d GROUP BY 1)
         SELECT doc_id, source,
                CASE WHEN q3 - q1 > 0
                     THEN round((v - med) / (q3 - q1), 6) END
                  AS robust_z
         FROM d JOIN b USING (source) ORDER BY doc_id""",

    "q271_js_capped" ->
      """WITH d AS (
           SELECT source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT source, unnest(toks) AS token FROM d
           WHERE len(toks) > 0 AND toks != ['']),
         bg AS (SELECT source AS g, token, count(*) AS c
                FROM tok GROUP BY 1, 2),
         tots AS (SELECT g, CAST(sum(c) AS DOUBLE) AS n
                  FROM bg GROUP BY 1
                  QUALIFY row_number()
                    OVER (ORDER BY sum(c) DESC, g) <= 8),
         p AS (SELECT g, token, CAST(c AS DOUBLE) / n AS p
               FROM bg JOIN tots USING (g)),
         pairs AS (SELECT a.g AS ga, b.g AS gb
                   FROM tots a, tots b WHERE a.g < b.g),
         sa AS (SELECT ga, gb, token, p.p AS pa
                FROM pairs JOIN p ON p.g = pairs.ga),
         sb AS (SELECT ga, gb, token, p.p AS pb
                FROM pairs JOIN p ON p.g = pairs.gb),
         cells AS (
           SELECT ga, gb, token, pa, pb
           FROM sa FULL JOIN sb USING (ga, gb, token))
         SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_union_tokens,
                round(sum(
                  CASE WHEN pa IS NOT NULL THEN 0.5 * pa *
                    ln(pa / ((coalesce(pa, 0) + coalesce(pb, 0)) / 2))
                  ELSE 0 END +
                  CASE WHEN pb IS NOT NULL THEN 0.5 * pb *
                    ln(pb / ((coalesce(pa, 0) + coalesce(pb, 0)) / 2))
                  ELSE 0 END), 6) AS js
         FROM cells GROUP BY ga, gb ORDER BY ga, gb""",

    "q272_asof_nearest_exec" ->
      """WITH p AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS t,
                  value
           FROM events WHERE event_type = 'purchase'),
         c0 AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS ct, value AS cv
           FROM events WHERE event_type = 'click'),
         c AS (
           SELECT user_id, ct, max(cv) AS cv
           FROM c0 GROUP BY user_id, ct),
         cand AS (
           SELECT p.event_id, c.ct, c.ct - p.t AS delta, c.cv
           FROM p JOIN c ON p.user_id = c.user_id
             AND c.ct BETWEEN p.t - 1800 AND p.t + 1800
           QUALIFY row_number() OVER (PARTITION BY p.event_id
             ORDER BY abs(c.ct - p.t), c.ct) = 1)
         SELECT p.event_id, p.user_id, p.t, cand.ct AS asof_ts,
                cand.delta, round(cand.cv, 6) AS click_value
         FROM p LEFT JOIN cand USING (event_id)
         ORDER BY p.event_id""",

    "q273_sql_interval_union" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events),
         m AS (
           SELECT user_id, t,
                  max(t) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM e),
         f AS (
           SELECT user_id, t,
                  CASE WHEN prev_max IS NULL OR t > prev_max + 1800
                       THEN 1 ELSE 0 END AS new_sess
           FROM m),
         sess AS (
           SELECT user_id, t,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
           FROM f)
         SELECT user_id, min(t) AS sess_start, max(t) AS sess_end,
                count(*) AS n_rows
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, sess_start""",

    "q274_sql_topk" ->
      """WITH c AS (
           SELECT l_returnflag,
                  l_orderkey * 10 + l_linenumber AS line_id,
                  CAST(l_extendedprice AS DOUBLE) AS p
           FROM lineitem)
         SELECT l_returnflag, line_id, round(p, 2) AS price
         FROM c
         QUALIFY row_number() OVER (PARTITION BY l_returnflag
           ORDER BY p DESC, line_id) <= 3
         ORDER BY l_returnflag, p DESC, line_id""",

    "q275_sql_reservoir" ->
      """WITH h AS (
           SELECT event_type,
                  CAST('0x' || substr(md5('rq:' ||
                    CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS hsh,
                  CAST(value AS DOUBLE) AS v
           FROM events),
         r AS (
           SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY hsh, v) AS rn
           FROM h),
         k AS (SELECT event_type, v FROM r WHERE rn <= 128),
         o AS (
           SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY v) AS vr,
                  count(*) OVER (PARTITION BY event_type) AS m
           FROM k)
         SELECT event_type, CAST(max(m) AS INT) AS n_sample,
                round(max(CASE WHEN vr = CAST(ceil(0.5 * m) AS BIGINT)
                          THEN v END), 6) AS p50
         FROM o GROUP BY event_type ORDER BY event_type""",

    "q276_sql_bucket_id" ->
      """WITH w AS (
           SELECT l_suppkey,
                  GREATEST(CAST(ceil(CAST(max(l_orderkey) AS DOUBLE) / 10)
                                AS BIGINT), 1) AS bucket_width
           FROM lineitem GROUP BY l_suppkey)
         SELECT l.l_suppkey,
                CAST(floor(CAST(l.l_orderkey AS DOUBLE) / w.bucket_width)
                     AS INTEGER) AS bucket,
                count(*) AS n_rows,
                min(l.l_orderkey) AS min_pos,
                max(l.l_orderkey) AS max_pos
         FROM lineitem l JOIN w USING (l_suppkey)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q277_sql_simhash" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         h AS (SELECT doc_id, md5(tok) AS h FROM tk),
         bits AS (
           SELECT doc_id, p,
             sum(CASE WHEN p % 2 = 0
                 THEN CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('1','3','5','7','9','b','d','f')
                      THEN 1 ELSE -1 END
                 ELSE CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('2','3','6','7','a','b','e','f')
                      THEN 1 ELSE -1 END END) AS s
           FROM h CROSS JOIN range(0, 64) r(p)
           GROUP BY doc_id, p),
         bands AS (
           SELECT doc_id, p // 16 AS band,
             CAST(sum(CASE WHEN s > 0 THEN (1 << (p % 16)) ELSE 0 END)
               AS INTEGER) AS bv
           FROM bits GROUP BY doc_id, p // 16)
         SELECT doc_id,
           max(CASE WHEN band = 0 THEN bv END) AS s0,
           max(CASE WHEN band = 1 THEN bv END) AS s1,
           max(CASE WHEN band = 2 THEN bv END) AS s2,
           max(CASE WHEN band = 3 THEN bv END) AS s3
         FROM bands GROUP BY doc_id ORDER BY doc_id""",

    "q278_sql_damerau" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                CAST(damerau_levenshtein(a.c_name, b.c_name) AS INTEGER)
                  AS dist
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey
          AND a.c_custkey < b.c_custkey
         WHERE a.c_custkey % 20 = 0 AND b.c_custkey % 20 = 0
           AND damerau_levenshtein(a.c_name, b.c_name) <= 2
         ORDER BY id_a, id_b""",

    "q279_sql_langid" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             len(list_filter(toks, x -> x IN ('the','a','of','and','is')))
               AS s_en,
             len(list_filter(toks, x -> x IN ('der','die','das','und','ist')))
               AS s_de,
             len(list_filter(toks, x -> x IN ('le','la','les','et','est')))
               AS s_fr,
             len(list_filter(toks, x -> x IN ('el','los','y','es','se')))
               AS s_es
           FROM d)
         SELECT doc_id,
           CASE WHEN s_en >= greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_de >= greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_fr >= greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                ELSE 'es' END AS pred_lang
         FROM s ORDER BY doc_id""",

    "q280_sql_jaro_winkler" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                round(jaro_winkler_similarity(a.c_name, b.c_name), 6)
                  AS jw
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey
          AND a.c_custkey < b.c_custkey
         WHERE a.c_custkey % 50 = 0 AND b.c_custkey % 50 = 0
         ORDER BY id_a, id_b""",

    "q281_sql_zorder" ->
      """WITH e AS (
           SELECT event_id, user_id % 1024 AS x,
                  greatest(least(CAST(floor(value) AS BIGINT), 1023), 0)
                    AS y
           FROM events),
         z AS (
           SELECT event_id,
                  CAST(sum((((x >> CAST(i AS INTEGER)) & 1)
                              << (2 * CAST(i AS INTEGER)))
                         + (((y >> CAST(i AS INTEGER)) & 1)
                              << (2 * CAST(i AS INTEGER) + 1)))
                       AS BIGINT) AS zv
           FROM e CROSS JOIN range(0, 10) r(i)
           GROUP BY event_id)
         SELECT zv // 1024 AS z_bucket,
                count(*) AS n_rows, min(zv) AS min_z, max(zv) AS max_z
         FROM z GROUP BY 1 ORDER BY 1""",

    "q282_sql_text_hygiene" ->
      """WITH d AS (
           SELECT doc_id, source, coalesce(text, '') AS t0,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents)
         SELECT doc_id,
                substr(md5(trim(regexp_replace(lower(t0), '\s+', ' ',
                  'g'))), 1, 16) AS fp,
                CAST(len(toks) AS INTEGER) AS n_toks,
                round(CAST(len(list_distinct(toks)) AS DOUBLE)
                  / len(toks), 6) AS distinct_ratio,
                nfc_normalize('Café ' || source) AS nfc_name,
                strip_accents('Café nuñez ' || source) AS ascii_name
         FROM d ORDER BY doc_id""",

    "q283_sql_shingles" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         pos AS (
           SELECT doc_id, toks,
                  unnest(generate_series(1, len(toks) - 2)) AS i
           FROM d),
         sh AS (
           SELECT doc_id,
                  toks[CAST(i AS INTEGER)] || ' ' ||
                  toks[CAST(i + 1 AS INTEGER)] || ' ' ||
                  toks[CAST(i + 2 AS INTEGER)] AS s
           FROM pos),
         cnt AS (SELECT doc_id, s, count(*) AS c FROM sh GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(c) AS INTEGER) AS n_shingles,
                  CAST(max(c) AS BIGINT) AS top_shingle_count
           FROM cnt GROUP BY 1)
         SELECT d.doc_id,
                coalesce(agg.n_shingles, 0) AS n_shingles,
                coalesce(agg.top_shingle_count, 0) AS top_shingle_count
         FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",

    "q287_sql_winnow" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         pos AS (
           SELECT doc_id, toks,
                  unnest(generate_series(1, len(toks) - 2)) AS i
           FROM d),
         h AS (
           SELECT doc_id, i,
                  CAST('0x' || substr(md5(
                    toks[CAST(i AS INTEGER)] || ' ' ||
                    toks[CAST(i + 1 AS INTEGER)] || ' ' ||
                    toks[CAST(i + 2 AS INTEGER)]), 1, 15) AS BIGINT)
                    AS hv
           FROM pos),
         win AS (
           SELECT doc_id, i,
                  min(hv) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
                  count(*) OVER (PARTITION BY doc_id) AS m
           FROM h),
         sel AS (
           SELECT doc_id, wmin AS fp FROM win
           WHERE m >= 4 AND i <= m - 3
           UNION ALL
           SELECT doc_id, min(hv) AS fp FROM h
           GROUP BY doc_id HAVING count(*) < 4)
         SELECT DISTINCT doc_id, fp FROM sel ORDER BY doc_id, fp""",

    "q288_sql_int8" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 64),
         m AS (
           SELECT vec_id, v,
                  list_max(list_transform(v, x -> abs(x))) AS ma
           FROM e),
         q AS (
           SELECT vec_id,
                  CASE WHEN ma = 0 THEN list_transform(v, x -> 0.0)
                       ELSE list_transform(v, x ->
                         greatest(-127.0, least(127.0,
                           round(x * 127 / ma)))) END AS qv
           FROM m)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS qdot
         FROM q a JOIN q b ON a.vec_id < b.vec_id
         ORDER BY id_a, id_b""",

    "q284_sql_dot" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(
                  CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])), 6) AS dot
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 64 AND b.vec_id < 64
         ORDER BY id_a, id_b""",

    "q262_media_inventory" ->
      """WITH f AS (
           SELECT doc_id, source,
                  octet_length(encode(text)) AS n_bytes,
                  md5(text) AS content_md5
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_objects,
                CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
                round(CAST(sum(n_bytes) AS DOUBLE) / count(*), 6)
                  AS avg_bytes,
                CAST(count(DISTINCT content_md5) AS BIGINT)
                  AS distinct_payloads
         FROM f GROUP BY source ORDER BY source""",

    "q263_punchcard" ->
      """WITH e AS (
           SELECT (epoch_ns(ts) // 1000 // 86400000000) % 7 AS dow,
                  (epoch_ns(ts) // 1000 // 3600000000) % 24 AS hr
           FROM events),
         c AS (SELECT dow, hr, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY 1, 2)
         SELECT dow, hr, n,
                round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (
                  PARTITION BY dow) AS DOUBLE), 6) AS frac
         FROM c ORDER BY dow, hr""",

    "q264_hhi" ->
      """WITH rev AS (
           SELECT o_custkey,
                  sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
           FROM orders GROUP BY 1),
         j AS (
           SELECT r.r_name, rev
           FROM rev
           JOIN customer c ON c.c_custkey = o_custkey
           JOIN nation n ON n.n_nationkey = c.c_nationkey
           JOIN region r ON r.r_regionkey = n.n_regionkey),
         g AS (
           SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
                  CAST(sum(rev) AS DOUBLE) AS tot,
                  CAST(sum(rev * rev) AS DOUBLE) AS sq
           FROM j GROUP BY 1)
         SELECT r_name, n_customers,
                round(sq / (tot * tot), 6) AS hhi,
                round(1.0 / (sq / (tot * tot)), 6)
                  AS effective_competitors
         FROM g ORDER BY r_name""",

    "q265_purchase_intervals" ->
      """WITH p AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
           FROM events WHERE event_type = 'purchase'),
         g AS (
           SELECT user_id, us,
                  lead(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id) AS nxt
           FROM p),
         gaps AS (
           SELECT CAST(nxt - us AS DOUBLE) / 86400000000.0 AS gap_days
           FROM g WHERE nxt IS NOT NULL)
         SELECT round(quantile_cont(gap_days, 0.25), 4) AS p25,
                round(quantile_cont(gap_days, 0.5), 4) AS p50,
                round(quantile_cont(gap_days, 0.75), 4) AS p75
         FROM gaps""",

    "q266_dedup_token_savings" ->
      """WITH corpus AS (
           SELECT doc_id, text, source FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text, source
           FROM documents WHERE doc_id % 10 = 0),
         toks AS (
           SELECT doc_id, source,
                  CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                       ELSE len(string_split(trim(regexp_replace(lower(
                         coalesce(text, '')), '\s+', ' ', 'g')), ' '))
                  END AS n_tokens
           FROM corpus),
         surv AS (
           SELECT arg_max(doc_id, -doc_id) AS doc_id
           FROM (SELECT doc_id,
                   substr(md5(trim(regexp_replace(lower(coalesce(text,
                     '')), '\s+', ' ', 'g'))), 1, 16) AS fp
                 FROM corpus)
           GROUP BY fp),
         kept AS (
           SELECT source, CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
           FROM toks SEMI JOIN surv USING (doc_id)
           GROUP BY 1),
         tot AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           FROM toks GROUP BY 1)
         SELECT source, n_docs, total_tokens, kept_tokens,
                round(1.0 - CAST(kept_tokens AS DOUBLE) /
                  CAST(total_tokens AS DOUBLE), 6) AS savings_frac
         FROM tot JOIN kept USING (source) ORDER BY source""",

    "q267_sql_surface" ->
      """WITH ch AS (
           SELECT doc_id, source,
                  unnest(string_split(coalesce(text, ''), '')) AS c
           FROM documents WHERE length(coalesce(text, '')) > 0),
         pe AS (SELECT doc_id, source, entropy(c) AS h
                FROM ch GROUP BY 1, 2),
         al AS (
           SELECT d.source, round(coalesce(pe.h, 0.0), 6) AS h
           FROM documents d LEFT JOIN pe ON d.doc_id = pe.doc_id)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                round(CAST(sum(CAST(h AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*), 6) AS avg_entropy,
                round(max(h), 6) AS max_entropy,
                round(min(h), 6) AS min_entropy
         FROM al GROUP BY source ORDER BY source""",

    "q255_bounce_rate" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events),
         m AS (
           SELECT user_id, t,
                  max(t) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM e),
         f AS (
           SELECT user_id, t,
                  CASE WHEN prev_max IS NULL OR t > prev_max + 1800
                       THEN 1 ELSE 0 END AS new_sess
           FROM m),
         sess AS (
           SELECT user_id, t,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
           FROM f),
         agg AS (
           SELECT user_id, sid, min(t) AS sess_start, count(*) AS n_rows
           FROM sess GROUP BY 1, 2),
         byday AS (
           SELECT sess_start // 86400 AS day,
                  CAST(count(*) AS BIGINT) AS n_sessions,
                  CAST(sum(CASE WHEN n_rows = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS bounces
           FROM agg GROUP BY 1)
         SELECT day, n_sessions, bounces,
                round(CAST(bounces AS DOUBLE) /
                  CAST(n_sessions AS DOUBLE), 6) AS bounce_rate
         FROM byday ORDER BY day""",

    "q257_lang_confusion" ->
      """WITH d AS (
           SELECT lang,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         s AS (
           SELECT lang,
             len(list_filter(toks, x -> x IN ('the','a','of','and','is')))
               AS s_en,
             len(list_filter(toks, x -> x IN ('der','die','das','und','ist')))
               AS s_de,
             len(list_filter(toks, x -> x IN ('le','la','les','et','est')))
               AS s_fr,
             len(list_filter(toks, x -> x IN ('el','los','y','es','se')))
               AS s_es
           FROM d),
         p AS (
           SELECT lang,
             CASE WHEN s_en >= greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                  WHEN s_de >= greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                  WHEN s_fr >= greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                  ELSE 'es' END AS pred_lang
           FROM s),
         cm AS (
           SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
           FROM p GROUP BY 1, 2)
         SELECT lang, pred_lang, n,
                round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (
                  PARTITION BY lang) AS DOUBLE), 6) AS frac
         FROM cm ORDER BY lang, pred_lang""",

    "q258_similarity_histogram" ->
      """WITH d AS (
           SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh0 AS (
           SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(toks) < 3
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               END)) AS shingle
           FROM d),
         hot AS (
           SELECT source, shingle FROM sh0
           GROUP BY source, shingle HAVING count(*) > 2),
         sh AS (
           SELECT sh0.* FROM sh0 ANTI JOIN hot
             ON sh0.source = hot.source AND sh0.shingle = hot.shingle),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         pairs AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
           FROM sh x JOIN sh y
             ON x.source = y.source AND x.shingle = y.shingle
             AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         j AS (
           SELECT round(CAST(n_common AS DOUBLE)
                   / (ca.n_sh + cb.n_sh - n_common), 6) AS jac
           FROM pairs JOIN cnt ca ON ca.doc_id = a
                      JOIN cnt cb ON cb.doc_id = b
           WHERE round(CAST(n_common AS DOUBLE)
                       / (ca.n_sh + cb.n_sh - n_common), 6) >= 0.01)
         SELECT CAST(least(floor(jac * 10), 9) AS INTEGER) AS bucket,
                CAST(count(*) AS BIGINT) AS n_pairs
         FROM j GROUP BY 1 ORDER BY 1""",

    "q259_cumulative_users" ->
      """WITH fs AS (
           SELECT user_id,
                  min(epoch_ns(ts) // 1000 // 86400000000) AS day
           FROM events GROUP BY 1),
         per AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
                 FROM fs GROUP BY 1)
         SELECT day, new_users,
                CAST(sum(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_users
         FROM per ORDER BY day""",

    "q260_fill_latency" ->
      """WITH lat AS (
           SELECT o.o_orderpriority,
                  CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(max(l.l_shipdate) AS DATE)) AS DOUBLE) AS lat
           FROM lineitem l JOIN orders o
             ON l.l_orderkey = o.o_orderkey
           GROUP BY l.l_orderkey, o.o_orderpriority, o.o_orderdate)
         SELECT o_orderpriority,
                round(quantile_cont(lat, 0.5), 4) AS p50,
                round(quantile_cont(lat, 0.9), 4) AS p90,
                round(quantile_cont(lat, 0.99), 4) AS p99
         FROM lat GROUP BY 1 ORDER BY 1""",

    "q261_mode_per_key" ->
      """WITH c AS (
           SELECT user_id, event_type, count(*) AS cnt
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT user_id, event_type, cnt,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY cnt DESC, event_type) AS rn,
                  sum(cnt) OVER (PARTITION BY user_id) AS n_events
           FROM c)
         SELECT user_id, event_type AS mode_type,
                CAST(cnt AS BIGINT) AS mode_count,
                CAST(n_events AS BIGINT) AS n_events
         FROM r WHERE rn = 1 ORDER BY user_id""",

    "q251_decile_lift" ->
      """WITH u AS (
           SELECT user_id,
                  CAST(sum(CASE WHEN event_type = 'click'
                    THEN CAST(value AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                    AS score,
                  max(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END) AS conv
           FROM events GROUP BY 1),
         b AS (SELECT quantile_cont(score,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qb
               FROM u),
         coded AS (
           SELECT conv,
                  1 + CAST(score > qb[1] AS INTEGER)
                    + CAST(score > qb[2] AS INTEGER)
                    + CAST(score > qb[3] AS INTEGER)
                    + CAST(score > qb[4] AS INTEGER)
                    + CAST(score > qb[5] AS INTEGER)
                    + CAST(score > qb[6] AS INTEGER)
                    + CAST(score > qb[7] AS INTEGER)
                    + CAST(score > qb[8] AS INTEGER)
                    + CAST(score > qb[9] AS INTEGER) AS decile
           FROM u, b),
         per AS (
           SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
                  CAST(sum(conv) AS BIGINT) AS converters
           FROM coded GROUP BY 1),
         w AS (
           SELECT decile, n_users, converters,
                  sum(converters) OVER () AS tc,
                  sum(n_users) OVER () AS tn,
                  sum(converters) OVER (ORDER BY decile DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
           FROM per)
         SELECT decile, n_users, converters,
                round(CAST(converters AS DOUBLE) /
                  CAST(n_users AS DOUBLE), 6) AS conv_rate,
                round(CAST(cum AS DOUBLE) / CAST(tc AS DOUBLE), 6)
                  AS cum_gain,
                round((CAST(converters AS DOUBLE) /
                  CAST(n_users AS DOUBLE)) /
                  (CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE)), 6) AS lift
         FROM w ORDER BY decile DESC""",

    "q252_seasonal_strength" ->
      """WITH cell AS (
           SELECT event_type,
                  (epoch_ns(ts) // 1000 // 3600000000) % 24 AS hr,
                  count(*) AS nh,
                  sum(CAST(value AS DECIMAL(18,4))) AS sh,
                  sum(CAST(value AS DECIMAL(18,4)) *
                      CAST(value AS DECIMAL(18,4))) AS sq
           FROM events GROUP BY 1, 2),
         g AS (
           SELECT event_type, CAST(sum(nh) AS BIGINT) AS n,
                  CAST(sum(sh) AS DOUBLE) AS s,
                  CAST(sum(sq) AS DOUBLE) AS sqs,
                  sum(CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE) /
                      CAST(nh AS DOUBLE)) AS ssb_part
           FROM cell GROUP BY 1)
         SELECT event_type, n,
                round((ssb_part - s * s / CAST(n AS DOUBLE)) /
                      (sqs - s * s / CAST(n AS DOUBLE)), 6) AS eta2
         FROM g ORDER BY event_type""",

    "q253_candidate_eval" ->
      """WITH corpus AS (
           SELECT doc_id, text, source FROM documents
           UNION ALL
           SELECT doc_id + 1000000, coalesce(text, '') || ' zz', source
           FROM documents WHERE doc_id % 5 = 0),
         d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM corpus),
         tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         h AS (SELECT doc_id, md5(tok) AS h FROM tk),
         bits AS (
           SELECT doc_id, p,
             sum(CASE WHEN p % 2 = 0
                 THEN CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('1','3','5','7','9','b','d','f')
                      THEN 1 ELSE -1 END
                 ELSE CASE WHEN substr(h, CAST(p // 2 + 1 AS INTEGER), 1)
                        IN ('2','3','6','7','a','b','e','f')
                      THEN 1 ELSE -1 END END) AS s
           FROM h CROSS JOIN range(0, 64) r(p)
           GROUP BY doc_id, p),
         bnd AS (
           SELECT doc_id, p // 16 AS band,
             CAST(sum(CASE WHEN s > 0 THEN (1 << (p % 16)) ELSE 0 END)
               AS INTEGER) AS bv
           FROM bits GROUP BY doc_id, p // 16),
         shx AS (
           SELECT doc_id,
             max(CASE WHEN band = 0 THEN bv END) AS s0,
             max(CASE WHEN band = 1 THEN bv END) AS s1,
             max(CASE WHEN band = 2 THEN bv END) AS s2,
             max(CASE WHEN band = 3 THEN bv END) AS s3
           FROM bnd GROUP BY doc_id),
         bands AS (
           SELECT doc_id, s0, s1, s2, s3, band,
                  CASE band WHEN 0 THEN s0 WHEN 1 THEN s1
                            WHEN 2 THEN s2 ELSE s3 END AS v
           FROM shx CROSS JOIN range(0, 4) b(band)),
         cand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                  x.s0 AS a0, x.s1 AS a1, x.s2 AS a2, x.s3 AS a3,
                  y.s0 AS b0, y.s1 AS b1, y.s2 AS b2, y.s3 AS b3
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id),
         pred AS (
           SELECT a, b FROM cand
           WHERE bit_count(CAST(xor(a0, b0) AS BIGINT))
               + bit_count(CAST(xor(a1, b1) AS BIGINT))
               + bit_count(CAST(xor(a2, b2) AS BIGINT))
               + bit_count(CAST(xor(a3, b3) AS BIGINT)) <= 3),
         d2 AS (
           SELECT doc_id, source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM corpus),
         jsh0 AS (
           SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(toks) < 3
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               END)) AS shingle
           FROM d2),
         jhot AS (
           SELECT source, shingle FROM jsh0
           GROUP BY source, shingle HAVING count(*) > 2),
         jsh AS (
           SELECT jsh0.* FROM jsh0 ANTI JOIN jhot
             ON jsh0.source = jhot.source
             AND jsh0.shingle = jhot.shingle),
         jcnt AS (SELECT doc_id, count(*) AS n_sh
                  FROM jsh GROUP BY doc_id),
         jpairs AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
           FROM jsh x JOIN jsh y
             ON x.source = y.source AND x.shingle = y.shingle
             AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         truth AS (
           SELECT a, b
           FROM jpairs JOIN jcnt ca ON ca.doc_id = a
                       JOIN jcnt cb ON cb.doc_id = b
           WHERE round(CAST(n_common AS DOUBLE)
                       / (ca.n_sh + cb.n_sh - n_common), 6) >= 0.5),
         cells AS (
           SELECT coalesce(p.a, t.a) AS a, coalesce(p.b, t.b) AS b,
                  p.a IS NOT NULL AS isp, t.a IS NOT NULL AS ist
           FROM pred p FULL JOIN truth t
             ON p.a = t.a AND p.b = t.b),
         m AS (
           SELECT CAST(sum(CASE WHEN isp THEN 1 END) AS BIGINT)
                    AS n_pred,
                  CAST(sum(CASE WHEN ist THEN 1 END) AS BIGINT)
                    AS n_truth,
                  CAST(sum(CASE WHEN isp AND ist THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp
           FROM cells)
         SELECT n_pred, n_truth, tp,
                round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)
                  AS precision,
                round(CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
                  AS recall,
                CASE WHEN tp > 0 THEN
                  round(2.0 * (CAST(tp AS DOUBLE) /
                    CAST(n_pred AS DOUBLE)) *
                    (CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE)) /
                    ((CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)) +
                     (CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE))), 6)
                ELSE 0.0 END AS f1
         FROM m""",

    "q254_share_of_parent" ->
      """WITH rev AS (
           SELECT o_custkey,
                  sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
           FROM orders GROUP BY 1),
         nat AS (
           SELECT r.r_name, n.n_name, sum(rev) AS nrev
           FROM rev
           JOIN customer c ON c.c_custkey = o_custkey
           JOIN nation n ON n.n_nationkey = c.c_nationkey
           JOIN region r ON r.r_regionkey = n.n_regionkey
           GROUP BY 1, 2),
         w AS (
           SELECT r_name, n_name, nrev,
                  sum(nrev) OVER (PARTITION BY r_name) AS rrev,
                  sum(nrev) OVER () AS trev
           FROM nat)
         SELECT r_name, n_name,
                CAST(round(nrev, 2) AS DOUBLE) AS revenue,
                round(CAST(nrev AS DOUBLE) / CAST(rrev AS DOUBLE), 6)
                  AS share_of_region,
                round(CAST(rrev AS DOUBLE) / CAST(trev AS DOUBLE), 6)
                  AS region_share
         FROM w ORDER BY r_name, n_name""",

    "q250_asof_exec" ->
      """WITH p AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS t, value
           FROM events WHERE event_type = 'purchase'),
         c0 AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS ct, value AS cv
           FROM events WHERE event_type = 'click'),
         c AS (
           SELECT user_id, ct, max(cv) AS cv
           FROM c0 GROUP BY user_id, ct)
         SELECT p.event_id, p.user_id, p.t, c.ct AS click_t,
                round(c.cv, 6) AS click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.t >= c.ct
         ORDER BY p.event_id""",

    "q245_stickiness" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
                  epoch_ns(ts) // 1000 // 86400000000 AS day
           FROM events),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
         cov AS (
           SELECT DISTINCT u.user_id, u.day + o.o AS wday
           FROM ud u, range(0, 7) o(o)),
         wau AS (SELECT wday, count(*) AS wau FROM cov GROUP BY wday)
         SELECT day, CAST(dau AS BIGINT) AS dau,
                CAST(wau AS BIGINT) AS wau,
                round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6)
                  AS stickiness
         FROM dau JOIN wau ON day = wday ORDER BY day""",

    "q246_power_law_alpha" ->
      """WITH e AS (
           SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS u,
                  greatest(x.l_partkey, y.l_partkey) AS v
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND x.l_linenumber < y.l_linenumber
           WHERE x.l_partkey != y.l_partkey),
         deg AS (
           SELECT id, count(*) AS d FROM (
             SELECT u AS id FROM e UNION ALL SELECT v FROM e)
           GROUP BY id HAVING count(*) >= 2)
         SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                round(1.0 + CAST(count(*) AS DOUBLE) /
                  sum(ln(CAST(d AS DOUBLE) / 2.0)), 6) AS alpha
         FROM deg""",

    "q247_post_stratified_mean" ->
      """WITH ev AS (
           SELECT event_type,
                  epoch_ns(ts) // 1000 // 86400000000 AS day,
                  CAST(value AS DECIMAL(18,4)) AS v
           FROM events),
         d0 AS (SELECT min(day) AS d0 FROM ev),
         ref AS (
           SELECT event_type, count(*) AS ref_n
           FROM ev, d0 WHERE day < d0 + 7 GROUP BY 1),
         strata AS (
           SELECT event_type, count(*) AS n, sum(v) AS sv
           FROM ev GROUP BY 1)
         SELECT round(sum((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) *
                  CAST(ref_n AS DOUBLE)) / CAST(sum(ref_n) AS DOUBLE),
                  6) AS post_stratified_mean,
                round(CAST(sum(sv) AS DOUBLE) / CAST(sum(n) AS DOUBLE),
                  6) AS raw_mean
         FROM strata JOIN ref USING (event_type)""",

    "q248_stream_new_users" ->
      """WITH fs AS (
           SELECT user_id, min(epoch_ns(ts) // 1000) AS first_us
           FROM events GROUP BY 1)
         SELECT first_us // 86400000000 AS day,
                CAST(count(*) AS BIGINT) AS new_users
         FROM fs GROUP BY 1 ORDER BY day""",

    "q249_path_surprisal" ->
      """WITH s AS (
           SELECT user_id, event_type AS a,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY epoch_ns(ts) // 1000, event_id) AS b
           FROM events),
         steps AS (SELECT user_id, a, b FROM s WHERE b IS NOT NULL),
         tr AS (SELECT a, b, count(*) AS c FROM steps GROUP BY 1, 2),
         rt AS (SELECT a, CAST(sum(c) AS BIGINT) AS rt
                FROM tr GROUP BY 1),
         p AS (SELECT tr.a, tr.b,
                      CAST(c AS DOUBLE) / CAST(rt AS DOUBLE) AS p
               FROM tr JOIN rt USING (a))
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
                round(CAST(sum(CAST(round(-ln(p), 9) AS DECIMAL(28,9)))
                  AS DOUBLE) / count(*), 6) AS mean_surprisal
         FROM steps JOIN p USING (a, b)
         GROUP BY user_id ORDER BY user_id""",

    "q226_kaplan_meier" ->
      """WITH per AS (
           SELECT user_id,
                  min(epoch_ns(ts) // 1000) AS first_us,
                  max(epoch_ns(ts) // 1000) AS last_us
           FROM events GROUP BY 1),
         hor AS (SELECT max(epoch_ns(ts) // 1000) AS hor_us FROM events),
         subj AS (
           SELECT CAST(user_id % 4 AS INT) AS cohort,
                  (last_us - first_us) // 86400000000 AS dur_days,
                  last_us < hor_us - 6 * 3600000000 AS ev
           FROM per, hor),
         pt AS (
           SELECT cohort, dur_days,
                  CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_events,
                  count(*) AS n_at
           FROM subj GROUP BY 1, 2),
         tt AS (SELECT cohort, count(*) AS tot FROM subj GROUP BY 1),
         r AS (
           SELECT p.cohort, p.dur_days, p.n_events,
                  CAST(t.tot - coalesce(sum(p.n_at) OVER (
                    PARTITION BY p.cohort ORDER BY p.dur_days
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS n_risk
           FROM pt p JOIN tt t USING (cohort)),
         d AS (SELECT * FROM r WHERE n_events > 0),
         s AS (
           SELECT cohort, dur_days, n_risk, n_events,
                  max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
                    OVER wc AS dead_end,
                  sum(CASE WHEN n_events < n_risk
                        THEN ln(1 - CAST(n_events AS DOUBLE) /
                                    CAST(n_risk AS DOUBLE))
                        ELSE 0 END) OVER wc AS lsum
           FROM d
           WINDOW wc AS (PARTITION BY cohort ORDER BY dur_days
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT cohort, dur_days, n_risk, n_events,
                CASE WHEN dead_end = 1 THEN 0.0
                     ELSE round(exp(lsum), 6) END AS survival
         FROM s ORDER BY cohort, dur_days""",

    "q227_contingency" ->
      """WITH e AS (
           SELECT event_type AS x,
                  (epoch_ns(ts) // 1000 // 86400000000) % 7 AS y
           FROM events),
         cells AS (SELECT x, y, count(*) AS c FROM e GROUP BY 1, 2),
         xs AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx
                FROM cells GROUP BY 1),
         ys AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy
                FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                        count(DISTINCT x) AS nx,
                        count(DISTINCT y) AS ny
                 FROM cells)
         SELECT t.n,
                (t.nx - 1) * (t.ny - 1) AS dof,
                round(sum((CAST(c.c AS DOUBLE) / t.n) *
                  ln(CAST(c.c AS DOUBLE) * t.n /
                     (CAST(x.cx AS DOUBLE) * y.cy))), 6) AS mi,
                round(t.n + sum(
                  (c.c - CAST(x.cx AS DOUBLE) * y.cy / t.n) *
                  (c.c - CAST(x.cx AS DOUBLE) * y.cy / t.n) /
                  (CAST(x.cx AS DOUBLE) * y.cy / t.n) -
                  CAST(x.cx AS DOUBLE) * y.cy / t.n), 6) AS chi2,
                round(sqrt((t.n + sum(
                  (c.c - CAST(x.cx AS DOUBLE) * y.cy / t.n) *
                  (c.c - CAST(x.cx AS DOUBLE) * y.cy / t.n) /
                  (CAST(x.cx AS DOUBLE) * y.cy / t.n) -
                  CAST(x.cx AS DOUBLE) * y.cy / t.n)) /
                  (t.n * CAST(least(t.nx - 1, t.ny - 1) AS DOUBLE))),
                  6) AS cramers_v
         FROM cells c JOIN xs x USING (x) JOIN ys y USING (y), tot t
         GROUP BY t.n, t.nx, t.ny""",

    "q228_reservoir_quantiles" ->
      """WITH h AS (
           SELECT event_type,
                  CAST('0x' || substr(md5('rq:' ||
                    CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS hsh,
                  CAST(value AS DOUBLE) AS v
           FROM events),
         r AS (
           SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY hsh, v) AS rn
           FROM h),
         smp AS (SELECT event_type, v FROM r WHERE rn <= 256),
         srt AS (
           SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY v) AS vr,
                  count(*) OVER (PARTITION BY event_type) AS m
           FROM smp)
         SELECT event_type, CAST(max(m) AS BIGINT) AS n_sample,
                round(max(CASE WHEN vr = greatest(1,
                  CAST(ceil(0.25 * m) AS BIGINT)) THEN v END), 6) AS p25,
                round(max(CASE WHEN vr = greatest(1,
                  CAST(ceil(0.50 * m) AS BIGINT)) THEN v END), 6) AS p50,
                round(max(CASE WHEN vr = greatest(1,
                  CAST(ceil(0.90 * m) AS BIGINT)) THEN v END), 6) AS p90
         FROM srt GROUP BY event_type ORDER BY event_type""",

    "q229_script_mix" ->
      """WITH inj AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 5 = 0 THEN 'привет мир '
                        ELSE '' END) ||
                  (CASE WHEN doc_id % 7 = 0 THEN '你好世界 '
                        ELSE '' END) ||
                  coalesce(text, '') AS text
           FROM documents),
         cnt AS (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(text, '\p{Latin}'))
                    AS BIGINT) AS n_latin,
                  CAST(len(regexp_extract_all(text, '\p{Cyrillic}'))
                    AS BIGINT) AS n_cyrillic,
                  CAST(len(regexp_extract_all(text, '\p{Han}'))
                    AS BIGINT) AS n_han,
                  CAST(len(regexp_extract_all(text, '[0-9]'))
                    AS BIGINT) AS n_digit
           FROM inj)
         SELECT doc_id, n_latin, n_cyrillic, n_han, n_digit,
                CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_han
                          AND n_latin > 0 THEN 'latin'
                     WHEN n_cyrillic >= n_han AND n_cyrillic > 0
                       THEN 'cyrillic'
                     WHEN n_han > 0 THEN 'han'
                     ELSE 'none' END AS main_script
         FROM cnt ORDER BY doc_id""",

    "q230_time_weighted_avg" ->
      """WITH iv AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS start_us, value,
                  lead(epoch_ns(ts) // 1000) OVER (
                    PARTITION BY user_id
                    ORDER BY epoch_ns(ts) // 1000, event_id) AS end_us
           FROM events),
         f AS (SELECT * FROM iv
               WHERE end_us IS NOT NULL AND user_id % 10 = 3)
         SELECT user_id,
                CAST(sum(end_us - start_us) AS BIGINT) AS total_time,
                CASE WHEN sum(end_us - start_us) > 0 THEN
                  round(CAST(sum(CAST(value AS DECIMAL(18,4)) *
                    (end_us - start_us)) AS DOUBLE) /
                    CAST(sum(end_us - start_us) AS DOUBLE), 6)
                END AS tw_avg
         FROM f GROUP BY user_id ORDER BY user_id""",

    "q209_linear_interp" ->
      """WITH srs AS (
           SELECT event_type,
                  epoch_ns(ts) // 1000 // 60000000 AS minute,
                  CASE WHEN (epoch_ns(ts) // 1000 // 60000000) % 13 = 0
                       THEN NULL
                       ELSE round(CAST(sum(CAST(value AS DECIMAL(18,4)))
                         AS DOUBLE) / count(*), 6) END AS v
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, minute, v,
                  last_value(CASE WHEN v IS NOT NULL THEN minute END
                    IGNORE NULLS) OVER wb AS pt,
                  last_value(v IGNORE NULLS) OVER wb AS pv,
                  first_value(CASE WHEN v IS NOT NULL THEN minute END
                    IGNORE NULLS) OVER wf AS nt,
                  first_value(v IGNORE NULLS) OVER wf AS nv
           FROM srs
           WINDOW wb AS (PARTITION BY event_type ORDER BY minute
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wf AS (PARTITION BY event_type ORDER BY minute
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT event_type, minute, v IS NULL AS was_gap,
                round(CASE WHEN v IS NOT NULL THEN v
                           WHEN pv IS NULL THEN nv
                           WHEN nv IS NULL THEN pv
                           ELSE pv + (nv - pv) *
                             (CAST(minute - pt AS DOUBLE) /
                              CAST(nt - pt AS DOUBLE)) END, 6) AS interp
         FROM w ORDER BY event_type, minute""",

    "q207_gopher_rules" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sig AS (
           SELECT doc_id,
                  CASE WHEN toks = [''] THEN 0 ELSE len(toks) END
                    AS n_words,
                  CAST(list_sum(list_transform(toks, x -> len(x)))
                    AS BIGINT) AS chars,
                  len(list_filter(toks,
                    x -> regexp_matches(x, '[a-z]'))) AS alpha,
                  CAST(len(list_intersect(toks,
                    ['the','be','to','of','and','that','have','with',
                     'a','in'])) AS BIGINT) AS stop_hits
           FROM d),
         r AS (
           SELECT doc_id, n_words,
                  CASE WHEN n_words > 0
                       THEN round(chars / CAST(n_words AS DOUBLE), 6)
                       ELSE 0.0 END AS mean_word_len,
                  CASE WHEN n_words > 0
                       THEN round(alpha / CAST(n_words AS DOUBLE), 6)
                       ELSE 0.0 END AS alpha_frac,
                  stop_hits
           FROM sig)
         SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
                (n_words >= 20 AND n_words <= 100000
                 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                 AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
         FROM r ORDER BY doc_id""",

    "q206_rolling_distinct" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
                  epoch_ns(ts) // 1000 // 86400000000 AS day
           FROM events),
         days AS (SELECT DISTINCT day FROM ud),
         cov AS (
           SELECT DISTINCT d.day AS wday, u.user_id
           FROM days d JOIN ud u
             ON u.day BETWEEN d.day - 6 AND d.day)
         SELECT wday, count(*) AS distinct_users_7d
         FROM cov GROUP BY wday ORDER BY wday""",

    "q205_stream_left_join" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tsu
           FROM events),
         a AS (SELECT user_id, event_id AS a_id, tsu AS a_ts FROM e
               WHERE event_id % 2 = 0),
         b AS (SELECT user_id, event_id AS b_id, tsu AS b_ts FROM e
               WHERE event_id % 2 = 1)
         SELECT a.user_id, a.a_id, b.b_id
         FROM a LEFT JOIN b
           ON a.user_id = b.user_id
           AND b.b_ts >= a.a_ts AND b.b_ts <= a.a_ts + 600000000
         ORDER BY a.user_id, a.a_id, b.b_id""",

    "q203_run_length" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS tsu, event_id,
                  event_type
           FROM events),
         m AS (
           SELECT user_id, tsu, event_id, event_type,
                  CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w != event_type
                       THEN 1 ELSE 0 END AS chg
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         r AS (
           SELECT user_id, tsu, event_type,
                  sum(chg) OVER (PARTITION BY user_id
                    ORDER BY tsu, event_id
                    ROWS UNBOUNDED PRECEDING) AS run_id
           FROM m)
         SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
                min(event_type) AS event_type,
                count(*) AS run_len, min(tsu) AS t_start
         FROM r GROUP BY user_id, run_id
         HAVING count(*) >= 2
         ORDER BY user_id, run_id""",

    "q204_ltv_curves" ->
      """WITH p AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS tsu,
                  CAST(value AS DECIMAL(18,4)) AS v
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, min(tsu) // 604800000000 AS cohort_wk
           FROM p GROUP BY user_id),
         weekly AS (
           SELECT c.cohort_wk,
                  p.tsu // 604800000000 - c.cohort_wk AS age_wk,
                  sum(p.v) AS rev
           FROM p JOIN c USING (user_id)
           GROUP BY 1, 2)
         SELECT cohort_wk, age_wk,
                CAST(round(rev, 4) AS DOUBLE) AS rev,
                CAST(round(sum(rev) OVER (PARTITION BY cohort_wk
                  ORDER BY age_wk ROWS UNBOUNDED PRECEDING), 4)
                  AS DOUBLE) AS cum_rev
         FROM weekly ORDER BY cohort_wk, age_wk""",

    "q200_position_attribution" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS tsu, event_id,
                  event_type
           FROM events),
         fp AS (
           SELECT user_id, min(tsu) AS fpt FROM e
           WHERE event_type = 'purchase' GROUP BY user_id),
         c AS (
           SELECT e.user_id, e.tsu, e.event_id
           FROM e JOIN fp USING (user_id)
           WHERE e.event_type = 'click' AND e.tsu < fp.fpt),
         r AS (
           SELECT tsu,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY tsu, event_id) AS rn,
                  count(*) OVER (PARTITION BY user_id) AS n
           FROM c)
         SELECT tsu // 86400000000 AS day, count(*) AS n_clicks,
                round(sum(CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                               WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                               WHEN rn = 1 OR rn = n
                                 THEN CAST(0.4 AS DOUBLE)
                               ELSE CAST(0.2 AS DOUBLE) / (n - 2)
                          END), 6) AS credit
         FROM r GROUP BY 1 ORDER BY day""",

    "q201_did_report" ->
      """WITH e AS (
           SELECT substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 2)
                    < '80' AS treated,
                  epoch_ns(ts) // 1000 >= 1705363200000000 AS post,
                  CAST(value AS DECIMAL(18,4)) AS v
           FROM events),
         m AS (
           SELECT
             CAST(sum(CASE WHEN NOT treated AND NOT post THEN v END)
               AS DOUBLE) /
             CAST(sum(CASE WHEN NOT treated AND NOT post THEN 1 END)
               AS DOUBLE) AS m00,
             CAST(sum(CASE WHEN NOT treated AND post THEN v END)
               AS DOUBLE) /
             CAST(sum(CASE WHEN NOT treated AND post THEN 1 END)
               AS DOUBLE) AS m01,
             CAST(sum(CASE WHEN treated AND NOT post THEN v END)
               AS DOUBLE) /
             CAST(sum(CASE WHEN treated AND NOT post THEN 1 END)
               AS DOUBLE) AS m10,
             CAST(sum(CASE WHEN treated AND post THEN v END)
               AS DOUBLE) /
             CAST(sum(CASE WHEN treated AND post THEN 1 END)
               AS DOUBLE) AS m11
           FROM e)
         SELECT round(m00, 6) AS ctrl_pre, round(m01, 6) AS ctrl_post,
                round(m10, 6) AS treat_pre, round(m11, 6) AS treat_post,
                round((m11 - m10) - (m01 - m00), 6) AS did
         FROM m""",

    "q202_common_prefix" ->
      """WITH mm AS (
           SELECT source, min(text) AS mn, max(text) AS mx
           FROM documents WHERE text IS NOT NULL GROUP BY source)
         SELECT source,
                CAST(CASE WHEN least(len(mn), len(mx)) < 1 THEN 0
                     ELSE len(list_filter(
                       range(1, least(len(mn), len(mx)) + 1),
                       i -> substr(mn, 1, CAST(i AS INTEGER))
                            = substr(mx, 1, CAST(i AS INTEGER)))) END
                  AS BIGINT) AS lcp_len
         FROM mm ORDER BY source""",

    "q199_range_band_join" ->
      """WITH o AS (
           SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
           FROM orders),
         b AS (
           SELECT o_orderkey AS band_id, cents - 5000 AS lo,
                  cents + 5000 AS hi
           FROM o WHERE o_orderkey % 75 = 0)
         SELECT band_id, count(*) AS n_in_band,
                min(p.o_orderkey) AS first_pt
         FROM b JOIN o p
           ON b.lo <= p.cents AND p.cents < b.hi
           AND p.o_orderkey != b.band_id
         GROUP BY band_id ORDER BY band_id""",

    "q198_fk_audit" ->
      """WITH e AS (
           SELECT 'lineitem.orderkey' AS fk,
                  (SELECT count(*) FROM lineitem) AS child_rows,
                  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                    (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS orphan_rows
           UNION ALL
           SELECT 'lineitem.partkey',
                  (SELECT count(*) FROM lineitem),
                  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                    (SELECT 1 FROM part p
                     WHERE p.p_partkey = l.l_partkey))
           UNION ALL
           SELECT 'lineitem.suppkey',
                  (SELECT count(*) FROM lineitem),
                  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                    (SELECT 1 FROM supplier s
                     WHERE s.s_suppkey = l.l_suppkey))
           UNION ALL
           SELECT 'orders.custkey',
                  (SELECT count(*) FROM orders),
                  (SELECT count(*) FROM orders o WHERE NOT EXISTS
                    (SELECT 1 FROM customer c
                     WHERE c.c_custkey = o.o_custkey))
           UNION ALL
           SELECT 'customer.nationkey',
                  (SELECT count(*) FROM customer),
                  (SELECT count(*) FROM customer c WHERE NOT EXISTS
                    (SELECT 1 FROM nation n
                     WHERE n.n_nationkey = c.c_nationkey))
           UNION ALL
           SELECT 'supplier.nationkey',
                  (SELECT count(*) FROM supplier),
                  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
                    (SELECT 1 FROM nation n
                     WHERE n.n_nationkey = s.s_nationkey)))
         SELECT fk, child_rows, orphan_rows FROM e ORDER BY fk""",

    "q197_stream_distinct" ->
      """SELECT (epoch_ns(ts) // 1000000000 // 86400) * 86400 AS w_start,
                event_type,
                count(DISTINCT user_id) AS distinct_users
         FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""",

    "q196_jw_linkage" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_nationkey FROM customer),
         typo AS (
           SELECT c_custkey + 3000000 AS c_custkey,
                  substr(c_name, 1, 16) || substr(c_name, 18, 1)
                    || substr(c_name, 17, 1) AS c_name,
                  c_nationkey
           FROM base WHERE c_custkey % 13 = 0),
         uni AS (SELECT * FROM base UNION ALL SELECT * FROM typo)
         SELECT x.c_custkey AS a, y.c_custkey AS b,
                round(jaro_winkler_similarity(x.c_name, y.c_name), 6)
                  AS jw
         FROM uni x JOIN uni y
           ON x.c_nationkey = y.c_nationkey
           AND x.c_custkey < y.c_custkey
         WHERE damerau_levenshtein(x.c_name, y.c_name) <= 1
           AND jaro_winkler_similarity(x.c_name, y.c_name) >= 0.85
         ORDER BY a, b""",

    "q192_pps_sample" ->
      """WITH w AS (
           SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS wt,
                  md5(CAST(o_orderkey AS VARCHAR)) AS h
           FROM orders
           WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT) > 0),
         t AS (SELECT CAST(sum(wt) AS BIGINT) AS tot FROM w),
         c AS (
           SELECT o_orderkey, wt,
                  CAST(sum(wt) OVER (ORDER BY h
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM w)
         SELECT o_orderkey, wt AS weight,
                CAST((cum * 500) // tot
                     - ((cum - wt) * 500) // tot AS BIGINT) AS hits
         FROM c, t
         WHERE (cum * 500) // tot - ((cum - wt) * 500) // tot >= 1
         ORDER BY o_orderkey""",

    "q193_bigram_lm" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT doc_id, unnest(toks) AS w,
                  generate_subscripts(toks, 1) AS pos
           FROM d WHERE len(toks) > 0 AND toks != ['']),
         cu AS (SELECT w AS w1, count(*) AS c1 FROM tok GROUP BY w),
         v AS (SELECT count(*) AS nv FROM cu),
         big AS (
           SELECT a.doc_id, a.w AS w1, b.w AS w2
           FROM tok a JOIN tok b
             ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         cb AS (
           SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
         sc AS (
           SELECT g.doc_id, count(*) AS n_bigrams,
                  sum(ln((cb.c2 + 1) /
                    CAST(cu.c1 + (SELECT nv FROM v) AS DOUBLE))) AS lp
           FROM big g JOIN cb ON cb.w1 = g.w1 AND cb.w2 = g.w2
                      JOIN cu ON cu.w1 = g.w1
           GROUP BY g.doc_id)
         SELECT doc_id, n_bigrams, round(lp / n_bigrams, 6) AS mean_logp
         FROM sc ORDER BY doc_id""",

    "q194_source_minhash" ->
      """WITH d AS (
           SELECT source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT source,
             unnest(list_distinct(CASE WHEN len(toks) < 3
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               END)) AS shingle
           FROM d),
         sigs AS (
           SELECT source, i,
                  min(CAST(('0x' ||
                    substr(md5(shingle || '#' || CAST(i // 2 AS VARCHAR)),
                      CAST(1 + 16 * (i % 2) AS INTEGER), 15)) AS BIGINT))
                    AS mh
           FROM sh CROSS JOIN range(0, 16) r(i)
           GROUP BY source, i),
         m AS (
           SELECT a.source AS src_a, b.source AS src_b,
                  CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                    AS BIGINT) AS matches
           FROM sigs a JOIN sigs b
             ON a.i = b.i AND a.source < b.source
           GROUP BY 1, 2)
         SELECT src_a, src_b, matches,
                round(matches / 16.0, 6) AS est_jaccard
         FROM m ORDER BY src_a, src_b""",

    "q195_event_sequences" ->
      """WITH g AS (
           SELECT event_type AS step_1,
                  lead(event_type, 1) OVER w AS step_2,
                  lead(event_type, 2) OVER w AS step_3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT step_1, step_2, step_3, count(*) AS support
         FROM g WHERE step_3 IS NOT NULL
         GROUP BY 1, 2, 3 HAVING count(*) >= 5
         ORDER BY step_1, step_2, step_3""",

    "q190_zorder_layout" ->
      """WITH k AS (
           SELECT user_id % 1024 AS x,
                  CAST(floor(value) AS BIGINT) AS y, event_id
           FROM events),
         z AS (
           SELECT x, y, event_id,
                  CAST(list_sum(list_transform(range(0, 21), i ->
                    (((x >> i) & 1) << (2 * i)) +
                    (((y >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
           FROM k),
         idx AS (
           SELECT x, y, z,
                  row_number() OVER (ORDER BY z, event_id) AS rn
           FROM z)
         SELECT (rn - 1) // 512 AS file_id, count(*) AS n_rows,
                min(x) AS x_min, max(x) AS x_max,
                min(y) AS y_min, max(y) AS y_max,
                min(z) AS z_min, max(z) AS z_max
         FROM idx GROUP BY 1 ORDER BY file_id""",

    "q191_compaction_plan" ->
      """WITH c AS (
           SELECT source, doc_id, n_chars,
                  sum(n_chars) OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
           FROM documents)
         SELECT source, CAST((cum - n_chars) // 4000 AS BIGINT) AS bin,
                count(*) AS n_files,
                CAST(sum(n_chars) AS BIGINT) AS total_bytes
         FROM c GROUP BY source, bin ORDER BY source, bin""",

    "q188_hits" ->
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND y.l_linenumber = x.l_linenumber + 1
           WHERE x.l_partkey != y.l_partkey),
         nodes AS MATERIALIZED (
           SELECT src AS id FROM e UNION SELECT dst FROM e),
         h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
         a1 AS MATERIALIZED (
           SELECT e.dst AS id, sum(h.hub) AS auth
           FROM e JOIN h0 h ON h.id = e.src GROUP BY e.dst),
         h1 AS MATERIALIZED (
           SELECT e.src AS id, sum(a.auth) AS hub
           FROM e JOIN a1 a ON a.id = e.dst GROUP BY e.src),
         a2 AS MATERIALIZED (
           SELECT e.dst AS id, sum(h.hub) AS auth
           FROM e JOIN h1 h ON h.id = e.src GROUP BY e.dst),
         h2 AS MATERIALIZED (
           SELECT e.src AS id, sum(a.auth) AS hub
           FROM e JOIN a2 a ON a.id = e.dst GROUP BY e.src),
         j AS MATERIALIZED (
           SELECT n.id, coalesce(h2.hub, 0) AS hub,
                  coalesce(a2.auth, 0) AS auth
           FROM nodes n LEFT JOIN h2 ON h2.id = n.id
                        LEFT JOIN a2 ON a2.id = n.id)
         SELECT id, round(hub / (SELECT sum(hub) FROM j), 9) AS hub,
                round(auth / (SELECT sum(auth) FROM j), 9) AS auth
         FROM j ORDER BY id""",

    "q189_adamic_adar" ->
      """WITH raw AS (
           SELECT least(x.l_partkey, y.l_partkey) AS u,
                  greatest(x.l_partkey, y.l_partkey) AS v
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND x.l_linenumber < y.l_linenumber
           WHERE x.l_partkey != y.l_partkey),
         und AS MATERIALIZED (
           SELECT u, v FROM raw GROUP BY u, v HAVING count(*) >= 2),
         nb AS (SELECT u AS v0, v AS n FROM und
                UNION ALL SELECT v, u FROM und),
         deg AS MATERIALIZED (
           SELECT v0, count(*) AS deg FROM nb GROUP BY v0),
         center AS (
           SELECT nb.v0, nb.n, deg.deg FROM nb JOIN deg USING (v0)
           WHERE deg <= 30),
         wedges AS (
           SELECT c1.v0, c1.n AS a, c2.n AS b, c1.deg
           FROM center c1 JOIN center c2 USING (v0)
           WHERE c1.n < c2.n),
         scored AS (
           SELECT a, b, count(*) AS common,
                  sum(1.0 / ln(deg)) AS aa
           FROM wedges GROUP BY a, b)
         SELECT a, b, common, round(aa, 6) AS aa
         FROM scored s
         WHERE NOT EXISTS (
           SELECT 1 FROM und WHERE und.u = s.a AND und.v = s.b)
         ORDER BY a, b""",

    "q187_stream_topk" ->
      """WITH r AS (
           SELECT event_type, value, event_id,
                  CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY value DESC, event_id) AS INTEGER) AS rnk
           FROM events)
         SELECT event_type, rnk, value, event_id
         FROM r WHERE rnk <= 3 ORDER BY event_type, rnk""",

    "q186_autocorr" ->
      """WITH e AS (
           SELECT event_type, ts, event_id,
                  CAST(value AS DECIMAL(18,4)) AS x
           FROM events),
         p AS (
           SELECT event_type, x,
                  lead(x) OVER (PARTITION BY event_type
                    ORDER BY ts, event_id) AS y
           FROM e),
         q AS (SELECT * FROM p WHERE y IS NOT NULL),
         s AS (
           SELECT event_type,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(count(*) AS BIGINT) AS n_points,
                  CAST(sum(x) AS DOUBLE) AS sx,
                  CAST(sum(y) AS DOUBLE) AS sy,
                  CAST(sum(x * y) AS DOUBLE) AS sxy,
                  CAST(sum(x * x) AS DOUBLE) AS sxx,
                  CAST(sum(y * y) AS DOUBLE) AS syy
           FROM q GROUP BY 1)
         SELECT event_type, n_points,
                CASE WHEN n * sxx - sx * sx > 0
                      AND n * syy - sy * sy > 0 THEN
                  round((n * sxy - sx * sy) /
                        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                        6) END AS corr
         FROM s ORDER BY event_type""",

    "q184_top_mass" ->
      """WITH per AS (
           SELECT lang, source,
                  CAST(sum(n_chars) AS BIGINT) AS chars
           FROM documents GROUP BY 1, 2),
         c AS (
           SELECT lang, source, chars,
                  sum(chars) OVER (PARTITION BY lang
                    ORDER BY chars DESC, source) AS cum,
                  sum(chars) OVER (PARTITION BY lang) AS tot
           FROM per)
         SELECT lang, source, chars
         FROM c WHERE (cum - chars) * 10 < tot * 9
         ORDER BY lang, source""",

    "q185_topk_agg" ->
      """WITH l AS (
           SELECT l_returnflag, l_extendedprice AS price,
                  l_orderkey * 10 + l_linenumber AS id
           FROM lineitem),
         r AS (
           SELECT l_returnflag, price, id,
                  CAST(row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY price DESC, id) AS INTEGER) AS rnk
           FROM l)
         SELECT l_returnflag, rnk, price, id
         FROM r WHERE rnk <= 3 ORDER BY l_returnflag, rnk""",

    "q182_pivot" ->
      """SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                  END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                  END) AS BIGINT) AS error,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                  END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                  END) AS BIGINT) AS view
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q183_unpivot" ->
      """SELECT user_id, event_type,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         GROUP BY user_id, event_type
         HAVING count(*) > 0
         ORDER BY user_id, event_type""",

    "q180_percent_rank" ->
      """SELECT l_orderkey, l_linenumber,
                percent_rank() OVER (ORDER BY l_extendedprice)
                  AS pct_rank
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q181_nearest_event" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu,
                  event_type
           FROM events),
         err AS (SELECT user_id, tsu AS et, event_id AS error_id
                 FROM e WHERE event_type = 'error'),
         clk AS (
           SELECT user_id, ct, max(click_id) AS click_id FROM (
             SELECT user_id, tsu AS ct, event_id AS click_id
             FROM e WHERE event_type = 'click')
           GROUP BY 1, 2),
         b AS (
           SELECT err.error_id, err.et, clk.ct AS bct,
                  clk.click_id AS bid
           FROM err ASOF LEFT JOIN clk
             ON err.user_id = clk.user_id AND err.et >= clk.ct),
         f AS (
           SELECT err.error_id, clk.ct AS fct, clk.click_id AS fid
           FROM err ASOF LEFT JOIN clk
             ON err.user_id = clk.user_id AND err.et <= clk.ct),
         j AS (
           SELECT b.error_id, b.et, b.bct, b.bid, f.fct, f.fid,
                  (b.bct IS NOT NULL AND b.et - b.bct <= 3600000000)
                    AS okb,
                  (f.fct IS NOT NULL AND f.fct - b.et <= 3600000000)
                    AS okf
           FROM b JOIN f USING (error_id)),
         p AS (
           SELECT error_id,
                  CASE WHEN okb AND (NOT okf OR et - bct <= fct - et)
                       THEN TRUE ELSE FALSE END AS takeb,
                  et, bct, bid, fct, fid, okf
           FROM j)
         SELECT error_id,
                CASE WHEN takeb THEN bid
                     WHEN okf THEN fid END AS click_id,
                CASE WHEN takeb THEN -(et - bct)
                     WHEN okf THEN fct - et END AS delta
         FROM p ORDER BY error_id""",

    "q179_entity_clusters" ->
      """WITH RECURSIVE base AS (
           SELECT c_custkey, c_name, c_nationkey FROM customer),
         typo AS (
           SELECT c_custkey + 3000000 AS c_custkey,
                  substr(c_name, 1, 16) || substr(c_name, 18, 1)
                    || substr(c_name, 17, 1) AS c_name,
                  c_nationkey
           FROM base WHERE c_custkey % 13 = 0),
         uni AS (SELECT * FROM base UNION ALL SELECT * FROM typo),
         edges AS (
           SELECT x.c_custkey AS a, y.c_custkey AS b
           FROM uni x JOIN uni y
             ON x.c_nationkey = y.c_nationkey
             AND x.c_custkey < y.c_custkey
           WHERE damerau_levenshtein(x.c_name, y.c_name) <= 1),
         sym AS (SELECT a AS src, b AS dst FROM edges
                 UNION ALL SELECT b, a FROM edges),
         reach(id, lab) AS (
           SELECT c_custkey, c_custkey FROM uni
           UNION
           SELECT sym.dst, reach.lab
           FROM sym JOIN reach ON sym.src = reach.id),
         comp AS (SELECT id AS c_custkey, min(lab) AS component
                  FROM reach GROUP BY id)
         SELECT c_custkey, component,
                CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
                  AS cluster_size
         FROM comp ORDER BY c_custkey""",

    "q177_mutual_best" ->
      """WITH v AS (
           SELECT label, vec_id,
                  CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         p AS (
           SELECT x.vec_id AS qa, y.vec_id AS qb,
                  list_dot_product(x.emb, y.emb) /
                    (sqrt(list_dot_product(x.emb, x.emb)) *
                     sqrt(list_dot_product(y.emb, y.emb))) AS sim
           FROM v x JOIN v y
             ON x.label = y.label AND x.vec_id <> y.vec_id),
         b AS (
           SELECT qa, qb, sim FROM (
             SELECT qa, qb, sim,
                    row_number() OVER (PARTITION BY qa
                      ORDER BY sim DESC, qb) AS rn
             FROM p) WHERE rn = 1)
         SELECT x.qa AS a, x.qb AS b, round(x.sim, 6) AS sim
         FROM b x JOIN b y ON x.qa = y.qb AND x.qb = y.qa
         WHERE x.qa < x.qb
         ORDER BY a""",

    "q178_latency_percentiles" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu,
                  event_type
           FROM events),
         pur AS (SELECT user_id, tsu AS pt, event_id AS purchase_id
                 FROM e WHERE event_type = 'purchase'),
         clk0 AS (SELECT user_id, tsu AS ct, event_id AS click_id
                  FROM e WHERE event_type = 'click'),
         clk AS (
           SELECT user_id, ct, max(click_id) AS click_id
           FROM clk0 GROUP BY 1, 2),
         j AS (
           SELECT pur.pt, clk.ct
           FROM pur ASOF LEFT JOIN clk
             ON pur.user_id = clk.user_id AND pur.pt >= clk.ct),
         lat AS (
           SELECT pt // 1000000 // 86400 AS day,
                  (pt - ct) // 1000000 AS latency_s
           FROM j
           WHERE ct IS NOT NULL AND pt - ct <= 604800000000)
         SELECT day, quantile_cont(latency_s, 0.5) AS p50,
                quantile_cont(latency_s, 0.9) AS p90,
                quantile_cont(latency_s, 0.99) AS p99
         FROM lat GROUP BY day ORDER BY day""",

    "q176_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
         FROM part p
         WHERE NOT EXISTS (
           SELECT 1 FROM part q
           WHERE q.p_retailprice <= p.p_retailprice
             AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice
                  OR q.p_size > p.p_size))
         ORDER BY p.p_partkey""",

    "q150_basket_lift" ->
      """WITH it AS MATERIALIZED (
           SELECT DISTINCT user_id,
                  epoch_ns(ts) // 1000000000 // 86400 AS day,
                  event_type
           FROM events),
         nb AS (SELECT CAST(count(*) AS DOUBLE) AS n
                FROM (SELECT DISTINCT user_id, day FROM it)),
         ic AS (SELECT event_type, count(*) AS c FROM it
                GROUP BY event_type),
         pc AS (
           SELECT x.event_type AS a, y.event_type AS b,
                  count(*) AS n_ab
           FROM it x JOIN it y
             ON x.user_id = y.user_id AND x.day = y.day
             AND x.event_type < y.event_type
           GROUP BY 1, 2 HAVING count(*) >= 50)
         SELECT p.a, p.b, CAST(p.n_ab AS BIGINT) AS n_ab,
                round(CAST(p.n_ab AS DOUBLE) / (SELECT n FROM nb), 6)
                  AS support,
                round(CAST(p.n_ab AS DOUBLE) / CAST(ca.c AS DOUBLE), 6)
                  AS confidence,
                round((CAST(p.n_ab AS DOUBLE) / (SELECT n FROM nb)) /
                  ((CAST(ca.c AS DOUBLE) / (SELECT n FROM nb)) *
                   (CAST(cb.c AS DOUBLE) / (SELECT n FROM nb))), 6)
                  AS lift
         FROM pc p JOIN ic ca ON ca.event_type = p.a
                   JOIN ic cb ON cb.event_type = p.b
         ORDER BY a, b""",

    "q151_stream_ohlc" ->
      """WITH e AS (
           SELECT epoch_ns(ts) // 1000000000 AS sec, event_id, value,
                  CAST(value AS DECIMAL(18,4)) AS v4
           FROM events),
         b AS (
           SELECT CAST(floor(CAST(sec AS DOUBLE) / 3600) AS BIGINT)
                    AS bar_id, sec, event_id, value, v4
           FROM e),
         rn AS (
           SELECT *,
                  row_number() OVER (PARTITION BY bar_id
                    ORDER BY sec, event_id) AS rf,
                  row_number() OVER (PARTITION BY bar_id
                    ORDER BY sec DESC, event_id DESC) AS rl
           FROM b)
         SELECT bar_id,
                max(CASE WHEN rf = 1 THEN value END) AS open,
                max(value) AS high, min(value) AS low,
                max(CASE WHEN rl = 1 THEN value END) AS close,
                CAST(count(*) AS BIGINT) AS volume,
                round(CAST(sum(v4) AS DOUBLE) / count(*), 6)
                  AS mean_value
         FROM rn GROUP BY bar_id ORDER BY bar_id""",

    "q152_journey_paths" ->
      """WITH s AS (
           SELECT user_id,
                  epoch_ns(ts) // 1000000000 // 86400 AS day,
                  list(event_type ORDER BY ts, event_id) AS types
           FROM events GROUP BY user_id, day)
         SELECT array_to_string(types[1:3], '>') AS path,
                count(*) AS n_sessions
         FROM s GROUP BY path ORDER BY path""",

    "q153_kcore" ->
      """WITH e0 AS (
           SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey
             AND y.l_linenumber = x.l_linenumber + 1
           WHERE x.l_partkey != y.l_partkey
             AND (x.l_partkey + y.l_partkey) % 5 = 0),
         ec AS MATERIALIZED (
           SELECT DISTINCT least(src, dst) AS u,
                  greatest(src, dst) AS v FROM e0),
         d0 AS (SELECT id, count(*) AS deg FROM (
                  SELECT u AS id FROM ec UNION ALL SELECT v FROM ec)
                GROUP BY id),
         k1 AS (SELECT id FROM d0 WHERE deg >= 5),
         e1 AS MATERIALIZED (
           SELECT * FROM ec WHERE u IN (SELECT id FROM k1)
                              AND v IN (SELECT id FROM k1)),
         d1 AS (SELECT id, count(*) AS deg FROM (
                  SELECT u AS id FROM e1 UNION ALL SELECT v FROM e1)
                GROUP BY id),
         k2 AS (SELECT id FROM d1 WHERE deg >= 5),
         e2 AS MATERIALIZED (
           SELECT * FROM e1 WHERE u IN (SELECT id FROM k2)
                              AND v IN (SELECT id FROM k2)),
         d2 AS (SELECT id, count(*) AS deg FROM (
                  SELECT u AS id FROM e2 UNION ALL SELECT v FROM e2)
                GROUP BY id),
         k3 AS (SELECT id FROM d2 WHERE deg >= 5),
         e3 AS MATERIALIZED (
           SELECT * FROM e2 WHERE u IN (SELECT id FROM k3)
                              AND v IN (SELECT id FROM k3))
         SELECT id, count(*) AS deg FROM (
           SELECT u AS id FROM e3 UNION ALL SELECT v FROM e3)
         GROUP BY id ORDER BY id""",

    "q154_winsorize" ->
      """WITH b AS (
           SELECT event_type,
                  quantile_cont(value, 0.05) AS lo,
                  quantile_cont(value, 0.95) AS hi
           FROM events GROUP BY event_type),
         j AS (
           SELECT e.event_type, e.value, b.lo, b.hi,
                  least(greatest(e.value, b.lo), b.hi) AS w
           FROM events e JOIN b USING (event_type))
         SELECT event_type,
                CAST(count(*) FILTER (WHERE value < lo) AS BIGINT)
                  AS n_low,
                CAST(count(*) FILTER (WHERE value > hi) AS BIGINT)
                  AS n_high,
                round(avg(value), 6) AS mean_before,
                round(avg(w), 6) AS mean_after
         FROM j GROUP BY event_type ORDER BY event_type""",

    "q155_source_overlap" ->
      """WITH d AS (
           SELECT source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS MATERIALIZED (
           SELECT DISTINCT source,
             unnest(CASE WHEN len(toks) < 3
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
               END) AS shingle
           FROM d),
         capped AS MATERIALIZED (
           SELECT source, shingle FROM sh
           QUALIFY count(*) OVER (PARTITION BY shingle) <= 15),
         sz AS (SELECT source, count(*) AS n FROM capped GROUP BY source),
         pr AS (
           SELECT x.source AS src_a, y.source AS src_b,
                  count(*) AS n_shared
           FROM capped x JOIN capped y
             ON x.shingle = y.shingle AND x.source < y.source
           GROUP BY 1, 2)
         SELECT p.src_a, p.src_b, CAST(p.n_shared AS BIGINT) AS n_shared,
                round(CAST(p.n_shared AS DOUBLE) /
                  CAST(a.n + b.n - p.n_shared AS DOUBLE), 6) AS jaccard
         FROM pr p JOIN sz a ON a.source = p.src_a
                   JOIN sz b ON b.source = p.src_b
         ORDER BY src_a, src_b""",

    "q139_stream_debounce" ->
      """WITH e AS (
           SELECT event_id, user_id, event_type,
                  epoch_ns(ts) // 1000 AS tsu
           FROM events),
         m AS (
           SELECT event_id, tsu,
                  max(tsu) OVER (PARTITION BY user_id, event_type
                    ORDER BY tsu, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS pm
           FROM e)
         SELECT event_id FROM m
         WHERE pm IS NULL OR tsu > pm + 86400000000
         ORDER BY event_id""",

    "q137_debounce" ->
      """WITH e AS (
           SELECT event_id, user_id, event_type,
                  epoch_ns(ts) // 1000 AS tsu
           FROM events),
         m AS (
           SELECT event_id, user_id, event_type, tsu,
                  max(tsu) OVER (PARTITION BY user_id, event_type
                    ORDER BY tsu, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS pm
           FROM e)
         SELECT event_id, user_id, event_type FROM m
         WHERE pm IS NULL OR tsu > pm + 86400000000
         ORDER BY event_id""",

    "q133_locf" ->
      """WITH ev AS (
           SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu,
                  CASE WHEN event_id % 3 = 0 THEN NULL
                       ELSE value END AS v
           FROM events)
         SELECT event_id, (v IS NULL) AS was_gap,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY tsu, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS v_filled
         FROM ev ORDER BY event_id""",

    "q134_attribution" ->
      """WITH ev AS (
           SELECT event_id, user_id, event_type, value,
                  epoch_ns(ts) // 1000 AS tsu
           FROM events),
         p AS (SELECT user_id, tsu AS pts, event_id AS purchase_id,
                      value
               FROM ev WHERE event_type = 'purchase'),
         c AS (SELECT user_id, tsu AS cts, event_id AS click_id
               FROM ev WHERE event_type = 'click')
         SELECT p.purchase_id, p.value,
                arg_max(c.click_id, c.cts) AS click_id
         FROM p LEFT JOIN c
           ON c.user_id = p.user_id AND c.cts <= p.pts
           AND p.pts - c.cts <= 86400000000
         GROUP BY p.purchase_id, p.value
         ORDER BY p.purchase_id""",

    "q131_systematic_sample" ->
      """WITH h AS (
           SELECT doc_id,
                  row_number() OVER (ORDER BY
                    md5('sys:' || CAST(doc_id AS VARCHAR))) AS idx
           FROM documents)
         SELECT doc_id, idx FROM h WHERE idx % 10 = 1
         ORDER BY doc_id""",

    "q132_time_to_convert" ->
      """WITH ev AS (
           SELECT user_id, event_type,
                  make_timestamp(epoch_ns(ts) // 1000) AS ts
           FROM events),
         v AS (SELECT user_id, min(ts) AS t1 FROM ev
               WHERE event_type = 'view' GROUP BY user_id),
         p AS (
           SELECT e.user_id, min(e.ts) AS tp, min(v.t1) AS t1
           FROM ev e JOIN v USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > v.t1
           GROUP BY e.user_id)
         SELECT (epoch_us(tp) - epoch_us(t1)) // 3600000000
                  AS hour_band,
                count(*) AS n_users
         FROM p GROUP BY 1 ORDER BY 1""",

    "q130_stream_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type,
                  make_timestamp(epoch_ns(ts) // 1000) AS ts
           FROM events),
         s1 AS (
           SELECT user_id, min(ts) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
           FROM ev e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL 86400 SECOND
           GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id, min(e.ts) AS t3
           FROM ev e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s2.t1 + INTERVAL 86400 SECOND
           GROUP BY e.user_id)
         SELECT 1 AS step_idx, 'view' AS step,
                (SELECT count(*) FROM s1) AS n_users
         UNION ALL
         SELECT 2, 'click', (SELECT count(*) FROM s2)
         UNION ALL
         SELECT 3, 'purchase', (SELECT count(*) FROM s3)
         ORDER BY step_idx""",

    "q129_semantic_decontaminate" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         hp AS (
           SELECT j.j, d.d,
             CAST('0x' || substr(md5('hp:' || j.j || ':' || d.d), 1, 15)
               AS BIGINT) / 1152921504606846976.0 * 2 - 1 AS comp
           FROM range(0, 32) j(j) CROSS JOIN range(0, 64) d(d)),
         hpl AS (SELECT j, list(comp ORDER BY d) AS rv
                 FROM hp GROUP BY j),
         bits AS (
           SELECT v.vec_id, hpl.j,
             CASE WHEN round(list_dot_product(v.ev, hpl.rv), 6) > 0
                  THEN 1 ELSE 0 END AS bit
           FROM v CROSS JOIN hpl),
         sigs AS (
           SELECT vec_id, CAST(j // 8 AS INTEGER) AS band,
                  CAST(sum(bit << (j % 8)) AS BIGINT) AS bv
           FROM bits GROUP BY vec_id, j // 8),
         cands AS (
           SELECT DISTINCT c.vec_id AS cid, b.vec_id AS bid
           FROM sigs c JOIN sigs b
             ON c.band = b.band AND c.bv = b.bv
           WHERE c.vec_id % 40 != 0 AND b.vec_id % 40 = 0),
         dominated AS (
           SELECT DISTINCT c.cid
           FROM cands c
           JOIN v cv ON c.cid = cv.vec_id
           JOIN v bv ON c.bid = bv.vec_id
           WHERE round(list_dot_product(cv.ev, bv.ev)
                       / (sqrt(list_dot_product(cv.ev, cv.ev))
                          * sqrt(list_dot_product(bv.ev, bv.ev))), 6)
                 >= 0.35)
         SELECT e.vec_id, e.label FROM embeddings e
         WHERE e.vec_id % 40 != 0
           AND e.vec_id NOT IN (SELECT cid FROM dominated)
         ORDER BY e.vec_id""",

    "q127_agg_merge" ->
      """SELECT source, lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
         FROM documents GROUP BY source, lang
         ORDER BY source, lang""",

    "q128_ab_report" ->
      """WITH p AS (
           SELECT CASE WHEN substr(md5('ab:' ||
                    CAST(user_id AS VARCHAR)), 1, 2) < '80'
                  THEN 'A' ELSE 'B' END AS arm, value
           FROM events WHERE event_type = 'purchase'),
         g AS (
           SELECT count(*) FILTER (arm = 'A') AS n_a,
                  count(*) FILTER (arm = 'B') AS n_b,
                  avg(value) FILTER (arm = 'A') AS ma,
                  avg(value) FILTER (arm = 'B') AS mb,
                  var_samp(value) FILTER (arm = 'A') AS va,
                  var_samp(value) FILTER (arm = 'B') AS vb
           FROM p)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                round((ma - mb) / sqrt(va / n_a + vb / n_b), 4)
                  AS t_stat
         FROM g""",

    "q124_entity_resolution" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_nationkey FROM customer),
         typo AS (
           SELECT c_custkey + 1000000 AS c_custkey,
                  substr(c_name, 1, 2) || substr(c_name, 4) AS c_name,
                  c_nationkey
           FROM base WHERE c_custkey % 15 = 0),
         uni AS (SELECT * FROM base UNION ALL SELECT * FROM typo)
         SELECT x.c_custkey AS a, y.c_custkey AS b,
                CAST(levenshtein(x.c_name, y.c_name) AS INTEGER) AS dist
         FROM uni x JOIN uni y
           ON x.c_nationkey = y.c_nationkey
           AND x.c_custkey < y.c_custkey
         WHERE abs(length(x.c_name) - length(y.c_name)) <= 1
           AND levenshtein(x.c_name, y.c_name) <= 1
         ORDER BY a, b""",

    "q125_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type,
                  make_timestamp(epoch_ns(ts) // 1000) AS ts
           FROM events),
         s1 AS (
           SELECT user_id, min(ts) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
           FROM ev e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL 86400 SECOND
           GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id, min(e.ts) AS t3
           FROM ev e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s2.t1 + INTERVAL 86400 SECOND
           GROUP BY e.user_id)
         SELECT 1 AS step_idx, 'view' AS step,
                (SELECT count(*) FROM s1) AS n_users
         UNION ALL
         SELECT 2, 'click', (SELECT count(*) FROM s2)
         UNION ALL
         SELECT 3, 'purchase', (SELECT count(*) FROM s3)
         ORDER BY step_idx""",

    "q126_cohorts" ->
      """WITH w AS (
           SELECT user_id,
                  CAST(date_trunc('week',
                    make_timestamp(epoch_ns(ts) // 1000)) AS DATE) AS wk
           FROM events),
         c AS (SELECT user_id, min(wk) AS cohort_week
               FROM w GROUP BY user_id)
         SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
                CAST(date_diff('day', c.cohort_week, w.wk) / 7
                  AS INTEGER) AS week_offset,
                count(DISTINCT w.user_id) AS n_users
         FROM w JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q121_char_entropy" ->
      """WITH inj AS (
           SELECT doc_id, coalesce(text, '') ||
                  (CASE WHEN doc_id % 13 = 0
                        THEN ' ' || repeat('a', 200) ELSE '' END) AS text
           FROM documents),
         ch AS (
           SELECT doc_id, unnest(string_split(text, '')) AS c
           FROM inj WHERE length(text) > 0),
         e AS (SELECT doc_id, entropy(c) AS h FROM ch GROUP BY doc_id)
         SELECT i.doc_id, round(coalesce(e.h, 0.0), 6) AS entropy_bits
         FROM inj i LEFT JOIN e ON i.doc_id = e.doc_id
         ORDER BY i.doc_id""",

    "q122_source_kl" ->
      """WITH d AS (
           SELECT source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT source, unnest(toks) AS token FROM d
           WHERE len(toks) > 0 AND toks != ['']),
         bg AS (SELECT source, token, count(*) AS cg
                FROM tok GROUP BY source, token),
         g AS (SELECT token, sum(cg) AS c FROM bg GROUP BY token),
         ng AS (SELECT source, sum(cg) AS n FROM bg GROUP BY source),
         nn AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM g)
         SELECT b.source, CAST(ng.n AS BIGINT) AS n_tokens,
                round(sum((CAST(b.cg AS DOUBLE) / CAST(ng.n AS DOUBLE))
                  * ln((CAST(b.cg AS DOUBLE) / CAST(ng.n AS DOUBLE))
                       / (CAST(g.c AS DOUBLE) / (SELECT n FROM nn)))),
                  6) AS kl
         FROM bg b JOIN g USING (token) JOIN ng USING (source)
         GROUP BY b.source, ng.n ORDER BY b.source""",

    "q123_zipf_slope" ->
      """WITH d AS (
           SELECT source,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT source, unnest(toks) AS token FROM d
           WHERE len(toks) > 0 AND toks != ['']),
         freq AS (SELECT source, token, count(*) AS f
                  FROM tok GROUP BY source, token),
         rk AS (
           SELECT source, f,
                  row_number() OVER (PARTITION BY source
                    ORDER BY f DESC, token) AS rank
           FROM freq)
         SELECT source, count(*) AS n_vocab,
                round(regr_slope(ln(CAST(f AS DOUBLE)),
                  ln(CAST(rank AS DOUBLE))), 6) AS slope
         FROM rk GROUP BY source ORDER BY source""",

    "q120_dist_match" ->
      """WITH tgt AS (
           SELECT doc_id, n_chars,
                  CAST(floor(n_chars / 100) AS BIGINT) AS b
           FROM documents WHERE source = 'src1'),
         ref AS (
           SELECT CAST(floor(n_chars / 100) AS BIGINT) AS b
           FROM documents WHERE source = 'src0'),
         ht AS (SELECT b, count(*) AS ct FROM tgt GROUP BY b),
         hr AS (SELECT b, count(*) AS cr FROM ref GROUP BY b),
         r AS (SELECT b, CAST(cr AS DOUBLE) / CAST(ct AS DOUBLE) AS rr
               FROM ht JOIN hr USING (b)),
         k AS (SELECT b, rr / (SELECT max(rr) FROM r) AS keep FROM r)
         SELECT t.doc_id, t.n_chars
         FROM tgt t JOIN k USING (b)
         WHERE CAST('0x' || substr(md5('dm:' || CAST(t.doc_id
                 AS VARCHAR)), 1, 15) AS BIGINT)
               / 1152921504606846976.0 < k.keep
         ORDER BY t.doc_id""",

    "q117_normalize" ->
      """WITH inj AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 4 = 0
                        THEN 'Cafe' || chr(769) || ' ' ELSE '' END)
                  || coalesce(text, '')
                  || (CASE WHEN doc_id % 6 = 0
                          THEN ' u' || chr(776) || 'ber' ELSE '' END)
                    AS text
           FROM documents)
         SELECT doc_id,
                md5(nfc_normalize(text)) AS nfc_md5,
                md5(strip_accents(nfc_normalize(text))) AS folded_md5,
                CAST(length(text) - length(nfc_normalize(text))
                  AS BIGINT) AS n_composed
         FROM inj ORDER BY doc_id""",

    "q118_unigram_logprob" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tok AS (
           SELECT doc_id, unnest(toks) AS token FROM d
           WHERE len(toks) > 0 AND toks != ['']),
         freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
         sc AS (
           SELECT t.doc_id, count(*) AS n_toks,
                  sum(ln(f.c / (SELECT n FROM tot))) AS lp
           FROM tok t JOIN freq f USING (token)
           GROUP BY t.doc_id)
         SELECT doc_id, n_toks, round(lp / n_toks, 6) AS mean_logp
         FROM sc ORDER BY doc_id""",

    "q116_mad_outliers" ->
      """WITH med AS (
           SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY event_type),
         mad AS (
           SELECT e.event_type,
                  quantile_cont(abs(e.value - m.med), 0.5) AS mad
           FROM events e JOIN med m USING (event_type)
           GROUP BY e.event_type)
         SELECT e.event_id, e.event_type, e.value,
                round(m.med, 6) AS med, round(d.mad, 6) AS mad
         FROM events e JOIN med m USING (event_type)
                       JOIN mad d USING (event_type)
         WHERE abs(e.value - m.med) > 3 * d.mad
         ORDER BY e.event_id""",

    "q107_token_budget" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(string_split(trim(regexp_replace(lower(
                    coalesce(text, '')), '\s+', ' ', 'g')), ' '))
                    AS BIGINT) AS n_tokens,
                  md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY h
                   ROWS UNBOUNDED PRECEDING) AS cum
               FROM d)
         SELECT doc_id, n_tokens FROM c WHERE cum <= 6000
         ORDER BY doc_id""",

    "q106_apply_changeset" ->
      """WITH base AS (SELECT doc_id, source, text FROM documents),
         ch AS (
           SELECT doc_id, source, text || ' [v2]' AS text,
                  'upsert' AS op
           FROM base WHERE doc_id % 5 = 0 AND doc_id % 7 != 0
           UNION ALL
           SELECT doc_id, source, CAST(NULL AS VARCHAR), 'delete'
           FROM base WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id + 1000000, 'srcnew',
                  'brand new doc ' || CAST(doc_id AS VARCHAR), 'upsert'
           FROM base WHERE doc_id % 11 = 0),
         nxt AS (
           SELECT b.doc_id, b.source, b.text FROM base b
           WHERE b.doc_id NOT IN (SELECT doc_id FROM ch)
           UNION ALL
           SELECT doc_id, source, text FROM ch WHERE op = 'upsert')
         SELECT doc_id, source, md5(coalesce(text, '')) AS text_md5
         FROM nxt ORDER BY doc_id""",

    "q105_repeated_spans" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(toks) - 9),
             i -> {'pos': i,
                   'gh': md5(array_to_string(
                           list_slice(toks, i, i + 9), ' '))})) AS pg
           FROM d WHERE len(toks) >= 10),
         gg AS (SELECT doc_id, CAST(pg.pos AS INTEGER) AS pos,
                       pg.gh AS gh FROM g),
         rep AS (SELECT gh FROM gg GROUP BY gh
                 HAVING count(DISTINCT doc_id) >= 2),
         mk AS (SELECT doc_id, pos AS s, pos + 9 AS e
                FROM gg JOIN rep USING (gh)),
         isl AS (
           SELECT doc_id, s, e,
             sum(CASE WHEN pmax IS NULL OR s > pmax + 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s) AS island
           FROM (SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS pmax
                 FROM mk))
         SELECT doc_id, CAST(min(s) AS INTEGER) AS span_start,
                CAST(max(e) AS INTEGER) AS span_end,
                CAST(max(e) - min(s) + 1 AS INTEGER) AS span_tokens
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id, span_start""",

    "q104_boilerplate" ->
      """WITH inj AS (
           SELECT doc_id, 'join our mailing list today' || chr(10) ||
                  coalesce(text, '') || chr(10) || 'ref block ' ||
                  CAST(doc_id % 50 AS VARCHAR) AS text2
           FROM documents),
         li AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(ls)),
             i -> {'pos': i, 'line': ls[i]})) AS pl
           FROM (SELECT doc_id, string_split(text2, chr(10)) AS ls
                 FROM inj)),
         lines AS (SELECT doc_id, pl.pos AS pos, pl.line AS line FROM li),
         bl AS (SELECT trim(line) AS tl FROM lines
                WHERE trim(line) <> ''
                GROUP BY 1 HAVING count(DISTINCT doc_id) >= 50),
         marked AS (
           SELECT l.doc_id, l.pos, l.line, b.tl IS NOT NULL AS is_bl
           FROM lines l LEFT JOIN bl b ON trim(l.line) = b.tl)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
                CAST(count(*) FILTER (WHERE is_bl) AS BIGINT)
                  AS n_removed,
                coalesce(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE NOT is_bl), '') AS cleaned_text
         FROM marked GROUP BY doc_id ORDER BY doc_id""",

    "q103_contamination_score" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             unnest(list_distinct(CASE WHEN len(toks) < 5
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 4),
                 i -> array_to_string(list_slice(toks, i, i + 4), ' '))
               END)) AS shingle
           FROM d),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
         sc AS (
           SELECT s.doc_id,
                  CAST(count(*) AS BIGINT) AS n_grams,
                  CAST(count(b.shingle) AS BIGINT) AS n_shared_grams
           FROM (SELECT doc_id, shingle FROM sh
                 WHERE doc_id % 20 != 0) s
           LEFT JOIN bench b USING (shingle)
           GROUP BY 1)
         SELECT doc_id, n_grams, n_shared_grams,
                round(CAST(n_shared_grams AS DOUBLE) / n_grams, 6)
                  AS contamination_rate
         FROM sc ORDER BY doc_id""",

    "q66_decontaminate" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             unnest(list_distinct(CASE WHEN len(toks) < 5
               THEN CAST([] AS VARCHAR[])
               ELSE list_transform(generate_series(1, len(toks) - 4),
                 i -> array_to_string(list_slice(toks, i, i + 4), ' '))
               END)) AS shingle
           FROM d),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
         contam AS (
           SELECT s.doc_id, count(*) AS n_shared_grams
           FROM sh s JOIN bench b USING (shingle)
           WHERE s.doc_id % 20 != 0
           GROUP BY 1)
         SELECT t.doc_id,
                CAST(coalesce(c.n_shared_grams, 0) AS BIGINT)
                  AS n_shared_grams,
                c.doc_id IS NULL AS kept
         FROM documents t LEFT JOIN contam c ON t.doc_id = c.doc_id
         WHERE t.doc_id % 20 != 0
         ORDER BY t.doc_id""",

    "q50_cosine_neardup" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
         cents AS (
           SELECT vec_id AS centroid_id, ev AS centv FROM v
           WHERE vec_id < 8),
         asg AS (
           SELECT vec_id, ev, centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_dot_product(ev, centv)
                 / (sqrt(list_dot_product(ev, ev))
                    * sqrt(list_dot_product(centv, centv))) DESC,
               centroid_id) AS crnk
           FROM v CROSS JOIN cents),
         m AS (SELECT vec_id, ev, centroid_id FROM asg WHERE crnk = 1)
         SELECT x.vec_id AS a, y.vec_id AS b, x.centroid_id,
                round(list_dot_product(x.ev, y.ev)
                      / (sqrt(list_dot_product(x.ev, x.ev))
                         * sqrt(list_dot_product(y.ev, y.ev))), 6) AS sim
         FROM m x JOIN m y
           ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
         WHERE round(list_dot_product(x.ev, y.ev)
                     / (sqrt(list_dot_product(x.ev, x.ev))
                        * sqrt(list_dot_product(y.ev, y.ev))), 6) >= 0.35
         ORDER BY a, b""",

    "q51_regex_tokens" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(lower(coalesce(text, '')),
                  '[a-z0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_bpe,
                CAST(len(string_split(trim(regexp_replace(lower(coalesce(
                  text, '')), '\s+', ' ', 'g')), ' ')) AS INTEGER) AS n_ws,
                round(CAST(len(regexp_extract_all(lower(coalesce(text,
                  '')), '[a-z0-9]+|[^a-z0-9\s]')) AS DOUBLE)
                  / len(string_split(trim(regexp_replace(lower(coalesce(
                  text, '')), '\s+', ' ', 'g')), ' ')), 6) AS bpe_per_ws
         FROM documents ORDER BY doc_id""",

    "q49_stateful_stream_sessions" ->
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events),
         mx AS (SELECT max(epoch_ns(ts)) // 1000000 AS max_ms FROM events),
         m AS (
           SELECT user_id, t,
                  max(t) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM e),
         f AS (
           SELECT user_id, t,
                  CASE WHEN prev_max IS NULL OR t > prev_max + 1800
                       THEN 1 ELSE 0 END AS new_sess
           FROM m),
         sess AS (
           SELECT user_id, t,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
           FROM f)
         SELECT user_id, min(t) AS sess_start, max(t) AS sess_end,
                count(*) AS n_rows
         FROM sess GROUP BY user_id, sid
         HAVING (max(t) + 1800) * 1000 < (SELECT max_ms FROM mx)
         ORDER BY user_id, sess_start""",

    "q57_recalibrate" ->
      """WITH cov AS (
           SELECT l_returnflag, l_linestatus,
                  sum(CAST(l_discount AS DECIMAL(18,4))) AS cs,
                  count(*) AS cn
           FROM lineitem GROUP BY 1, 2)
         SELECT l_orderkey, l_linenumber,
                round(l_discount - CAST(cs AS DOUBLE) / cn, 6) AS recal
         FROM lineitem JOIN cov USING (l_returnflag, l_linestatus)
         ORDER BY l_orderkey, l_linenumber""",

    "q46_lenient_text" ->
      """SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_clean,
                CAST(3 AS BIGINT) AS n_corrupt""",

    "q47_single_sink" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q48_partition_sort" ->
      """SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS t
         FROM events ORDER BY user_id, event_id""",

    "q31_pipe" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(coalesce(text,
                    '')), '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         tk AS (SELECT doc_id, unnest(toks) AS token FROM d)
         SELECT token, count(*) AS n_occurrences,
                count(DISTINCT doc_id) AS n_docs
         FROM tk GROUP BY token ORDER BY token"""
  )
}
