package graft

/** Standing guardrails over the whole query surface — nets that catch a
  * REGRESSION CLASS rather than one query:
  *
  *  - registry parity: every oracle has a query; every query either has
  *    an oracle or is on the documented rows-only list (a typo'd key
  *    would silently drop a correctness row from the driver's gate);
  *  - plan hygiene sweep: no query's final plan may contain a
  *    CartesianProduct, and the only BroadcastNestedLoopJoin is q24's
  *    documented broadcast-query-batch scorer. (A refactor that turns
  *    an equi-join into a non-equi one fails here, not at 100 TB.)
  *
  * The sweep builds every non-sink, non-streaming query's DataFrame at
  * sf0.001 — plan construction only for lazy queries; the handful of
  * eager queries (sinks, drains) are excluded because constructing them
  * EXECUTES them, and each already has its own pinned spec.
  */
class QuerySurfaceSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // queries whose construction runs real work (sink writes, stream
  // drains, eager closure/centroid computation) — each carries its own
  // dedicated spec; building them here would re-run Verify in miniature
  private val eager = Set(
    "q31_pipe", "q36_kmeans_iter", "q289_kmeans_train",
    "q290_kmeans_converged",
    "q43_stream_sessions",
    "q44_partitioned_sink", "q45_bucketed_join", "q46_lenient_text",
    "q47_single_sink", "q49_stateful_stream_sessions",
    "q54_stream_tumbling", "q55_stream_sliding", "q56_stream_dedup",
    "q61_stream_pipeline", "q69_stream_enrich", "q73_dup_clusters",
    "q74_dup_clusters_strict", "q78_stream_join", "q81_jsonl_sink",
    "q83_stream_dedup_gate", "q84_orc_sink", "q85_compact",
    "q86_tsv_sink", "q285_xml_sink",
    "q88_stream_file_sink", "q92_incremental_dedup",
    "q93_bpe_merges", "q101_bpe_encode", "q102_leakage_split",
    "q107_token_budget",
    "q13_salted_agg", "q35_salted_join",
    "q25_ivf_ann", "q63_ivf_nprobe", "q50_cosine_neardup",
    "q68_quantized_ann", "q72_bloom_decontaminate", "q12_ntile",
    "q41_approx_segment", "q53_percentile_bucketed",
    "q113_pagerank", "q114_blob_roundtrip", "q115_schema_evolution",
    "q119_fuzzy_dedup", "q130_stream_funnel", "q131_systematic_sample",
    "q135_class_terms", "q138_media_ingest", "q139_stream_debounce",
    "q140_tfidf_neardup", "q141_bm25_search",
    "q143_pagerank_sinks", "q145_label_prop", "q151_stream_ohlc",
    "q153_kcore", "q163_bfs_hops", "q172_stream_decayed",
    "q179_entity_clusters", "q187_stream_topk",
    // q188 pins HITS rounds (localCheckpoint) at construction; q190's
    // global z-index zips the sorted RDD eagerly; q197 drains a stream
    "q188_hits", "q190_zorder_layout", "q197_stream_distinct",
    // q205 stages a sink copy and drains a stream at construction
    "q205_stream_left_join",
    // q208 pins PPR rounds + counts the seed set at construction;
    // q211 zips the z-sorted RDD eagerly (q190 machinery)
    "q208_personalized_pagerank", "q211_skip_rate",
    // q225 drains a stream + sink round-trip at construction
    "q225_stream_drift",
    // q231 pins weighted-PageRank rounds at construction; q234 drains
    // a stream
    "q231_weighted_pagerank", "q234_stream_reservoir",
    // q248 drains a stream at construction
    "q248_stream_new_users",
    // q256/q269 run the jaccard-closure (eager checkpointed labels)
    "q256_dup_size_histogram", "q269_kfold_assignment")

  test("every oracle key names a query; every query is gated") {
    // round 10: the four approx-sketch queries gained exact-twin +
    // bound-boolean oracles, so nothing is rows-only anymore
    val rowsOnly = Set.empty[String]
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"orphan oracles: ${os -- qs}")
    assert((qs -- os -- rowsOnly).isEmpty,
      s"queries missing an oracle (and not documented rows-only): " +
        s"${qs -- os -- rowsOnly}")
    assert(rowsOnly.subsetOf(qs))
  }

  test("no cartesian products; BNLJs only where broadcast-bounded") {
    // documented BNLJs — each has a bounded-by-contract broadcast side:
    //  - q24: the query batch is broadcast (its own plan spec pins the
    //    build side);
    //  - q9: a pure overlap join has no equi key, and its broadcast
    //    side is one row per o_orderpriority (5); the big×big overlap
    //    scale path is q38's bucketed equi-join.
    //  - q104: the boilerplate-line SET is folded to literally ONE row
    //    (an ungrouped collect_set aggregate) and cross-joined so the
    //    removal is a scan-stage array filter — the BNLJ's loop side
    //    has exactly one iteration by construction.
    //  - q118/q122: the corpus-total (one ungrouped aggregate row) is
    //    cross-joined into the scorer — one-iteration loop side by
    //    construction, same shape as q104.
    //  - q144: the two PMI corpus totals (N_tokens, N_bigrams) are
    //    one-row ungrouped aggregates cross-joined into the scoring
    //    projection — q118's shape twice over.
    //  - q150: the basket total N is the same one-row ungrouped
    //    aggregate cross-joined into the lift projection.
    //  - q157: the heavy-hitter threshold total (count(*)) is a one-row
    //    ungrouped aggregate cross-joined into the candidate filter.
    //  - q159: the decay anchor (max timestamp) is a one-row ungrouped
    //    aggregate cross-joined into the scan-stage decay projection.
    //  - q166: the Pareto grand total is a one-row ungrouped aggregate
    //    cross-joined into the boundary test.
    //  - q170: each quantile-boundary table is a one-row ungrouped
    //    aggregate cross-joined into the scan-stage bin when-chain.
    //  - q180: the total row count n is a one-row ungrouped aggregate
    //    cross-joined into the rank division.
    //  - q188: the final HITS L1 normalizer (one row carrying both
    //    totals) is cross-joined into the rescale projection.
    //  - q194: the pairwise signature comparison is a #sources-sized
    //    broadcast loop join by construction (bounded catalog).
    //  - q198: each FK edge's report row cross-joins two ONE-ROW
    //    ungrouped counts (child total × orphan total).
    //  - q192: the population weight total W is a one-row ungrouped
    //    sum cross-joined into the stride test.
    //  - q193: the vocabulary size V is a one-row ungrouped count
    //    cross-joined into the smoothing denominator.
    //  - q215: the 9-row digit spine (range 1..9) is broadcast
    //    cross-joined onto the distinct-key table — bounded by the
    //    digit space, never by data.
    //  - q216: quantileBin's one-row boundary table cross-joined into
    //    the scan-stage bin when-chain (q170's shape).
    //  - q218: the |probs|-row threshold table (9 rows) is broadcast
    //    cross-joined for the scan-stage confusion fan-out — bounded
    //    by the requested quantile count.
    //  - q221: the global row count N is a one-row ungrouped aggregate
    //    cross-joined into the position arithmetic (q180's shape); the
    //    value-at-index lookup itself is a banded EQUI-join.
    //  - q222: the edge total m is a one-row ungrouped aggregate
    //    cross-joined into the modularity arithmetic.
    //  - q226: the censoring horizon (global max timestamp) is a
    //    one-row ungrouped aggregate cross-joined into the per-subject
    //    event flag (q159's decay-anchor shape).
    //  - q227: the contingency totals row (N, |X|, |Y|) is a one-row
    //    ungrouped aggregate cross-joined into the cell scorer
    //    (q118's corpus-total shape).
    //  - q233: the 50-row RBO depth spine is broadcast range-joined
    //    onto the ≤50-item rank table — bounded by the evaluation
    //    depth, never by data (q218's threshold-spine shape).
    //  - q235: the 50-row bootstrap-replicate spine is broadcast
    //    cross-joined for the per-replicate weight fan-out — bounded
    //    by the replicate count (q218's shape).
    //  - q242: the source-pair spine (the #groups² catalog, one row
    //    per group from an aggregate) is a broadcast loop join by
    //    construction — q194's bounded-catalog shape; the token joins
    //    themselves are equi.
    //  - q247: the reference-period anchor (global min day) is a
    //    one-row ungrouped aggregate cross-joined into the period
    //    filter (q159's decay-anchor shape).
    //  - q251: quantileBin's one-row boundary table cross-joined into
    //    the scan-stage decile when-chain (q170/q216's shape).
    val allowedBnlj = Set("q24_cosine_topk", "q9_interval_overlap",
      "q104_boilerplate", "q118_unigram_logprob", "q122_source_kl",
      "q144_pmi_collocations", "q150_basket_lift", "q157_heavy_hitters",
      "q159_decayed_score", "q166_pareto_cover", "q170_rfm",
      "q180_percent_rank", "q188_hits", "q192_pps_sample",
      "q193_bigram_lm", "q194_source_minhash", "q198_fk_audit",
      "q215_benford", "q216_calibration", "q218_pr_curve",
      "q221_quantile_normalize", "q222_modularity",
      "q226_kaplan_meier", "q227_contingency", "q233_rbo",
      "q235_bootstrap_ci", "q242_js_divergence",
      "q247_post_stratified_mean", "q251_decile_lift",
      // q268: the part-count row (one ungrouped aggregate) is
      // cross-joined into the candidate modulus (q118's shape)
      "q268_negative_sampling",
      // q271: the group-pair spine is the capped group catalog
      // squared (limit(topGroups)², ≤28 rows at the default cap of
      // 8) broadcast cross-joined — q242's bounded-catalog shape;
      // the token joins themselves are equi
      "q271_js_capped",
      // q284/q288: the SQL-surface dot-product pairs are bounded by
      // LITERAL id filters (vec_id < 64 both sides, pushed to the
      // scans) before the non-equi a<b loop — ≤64×64 by construction
      "q284_sql_dot", "q288_sql_int8")
    val lazyQueries = SparkEntry.queries.keySet -- eager
    val offenders = lazyQueries.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val cart = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
        !allowedBnlj(name)
      if (cart || bnlj) Some(s"$name cart=$cart bnlj=$bnlj") else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
