package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Physical-plan assertions: these lock in the *scale* properties of the
  * headline queries — that a broadcast stays a broadcast, a top-k never
  * becomes a full sort, filters reach the parquet scan, and aggregates
  * keep their map-side partial phase. A regression here is a 100 TB
  * regression even if results stay correct.
  */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** Build `body` while capturing the executed plans of every frame it
    * PINS (Components.pin) — the pin job is where reused intermediates'
    * derivation/aggregation shapes execute since round 14, so the result
    * frame's explain shows only `Scan ExistingRDD` there. Returns
    * (result-plan string, pinned-plan strings).
    */
  private def planWithPins(body: => DataFrame): (String, Seq[String]) =
    Plan.capturePins(body.queryExecution.executedPlan.toString)

  test("q7 dimension lookups run as broadcast hash joins (no shuffle)") {
    val p = plan("q7_broadcast_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("codegen class cache is sized to the plan working set") {
    // StaticSQLConf default is 100 LRU entries; a 290-query surface
    // evicts every query's generated classes before it runs again, so
    // each execution pays full janino recompilation (~0.2-0.4 s, r13
    // measurement: -41% on a 20-query interleaved block when raised).
    // Pin it so a session-factory refactor can't silently restore the
    // default and re-tax every multi-plan deployment.
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
  }

  test("q6 top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q6_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("kmeansInit seeding is a top-k, never a global sort exchange") {
    val emb = GraftSession.table(spark, sf, "embeddings")
    val p = operators.Similarity.kmeansInit(emb, "vec_id", "embedding", 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k + driver merge, got: ${p.take(400)}")
    assert(!p.contains("rangepartitioning"),
      "seed selection must not globally sort the corpus")
  }

  test("q2 predicates are pushed into the parquet scan") {
    val df = SparkEntry.queries("q2_filter_project")(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(l_quantity,10"),
      s"expected quantity filter pushed to scan, got: $pushed")
  }

  test("q2 scan reads only the projected columns") {
    val df = SparkEntry.queries("q2_filter_project")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    // lineitem has 16 columns; the query needs only 4
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("l_comment"), "scan must prune unused columns")
  }

  test("q1 aggregation has a map-side partial phase and codegen") {
    val p = plan("q1_agg")
    // partial + final HashAggregate pair
    assert(p.contains("partial_sum"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    val codegen = SparkEntry.queries("q1_agg")(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"))
  }

  test("q8 range join is a banded broadcast HASH join, never a BNLJ") {
    val p = plan("q8_range_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"containment join must band on the day bucket, not nested-loop:\n$p")
  }

  test("q24 brute-force ANN broadcasts the query batch") {
    val p = plan("q24_cosine_topk")
    // exact brute force is inherently a nested-loop join (the predicate
    // is non-equi by design) — but it must be exactly ONE such join, and
    // its build side must be the broadcast query batch; a second BNLJ
    // anywhere in the plan would be an accidental cartesian.
    val bnljLines = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnljLines.size == 1,
      s"expected exactly 1 BNLJ (the intended query×corpus scorer):\n$p")
    assert(bnljLines.head.contains("BuildRight"),
      s"the BNLJ build side must be the broadcast query batch: " +
        s"${bnljLines.head}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q36 centroid assignment is a scan-stage fold, not a row blow-up") {
    val p = plan("q36_kmeans_iter")
    assert(!p.contains("Window"), s"no window in kmeans assignment:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"),
      s"assignment must not materialize |V|×|centroids| rows:\n$p")
    assert(!p.contains("SortAggregate"),
      s"no struct-buffer sort aggregate in the kmeans path:\n$p")
    assert(p.contains("partial_avg"),
      "per-cluster means must keep their map-side partial phase")
  }

  test("q41 approx equal-frequency split has no Window (the q12 scale path)") {
    val p = plan("q41_approx_segment")
    assert(!p.contains("Window"),
      s"approx split must not funnel rows through per-key windows:\n$p")
    assert(!p.contains("SortAggregate"),
      s"approx split must keep hash aggregation:\n$p")
    assert(p.contains("BroadcastExchange"),
      "boundary lookup must broadcast")
  }

  test("q63 multi-probe IVF keeps the scan-stage assignment shape") {
    val p = plan("q63_ivf_nprobe")
    // the corpus side must stay a fold/sort-within-row assignment — the
    // only Window exec allowed is the per-query top-k row_number
    // (WindowGroupLimit nodes are its rank-pushdown halves, not extra
    // windows), and no |V|×|centroids| blow-up may appear on either side
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"exactly one window (the top-k) allowed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"),
      s"assignment must not materialize |V|×|centroids| rows:\n$p")
    assert(!p.contains("SortAggregate"), s"no sort aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "probe rows must broadcast-join the corpus cells")
  }

  test("q44 partitioned-sink re-read prunes to the filtered partition") {
    val p = plan("q44_partitioned_sink")
    val scanLine = p.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("src7"),
      s"partition filter must reach the scan:\n$p")
  }

  test("q45 bucketed join + agg run with ZERO shuffle exchanges") {
    val p = plan("q45_bucketed_join")
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join/agg must reuse at-rest bucketing, not shuffle:\n$p")
  }

  test("q21 jaccard candidate join: sort-merge on the key hash, never broadcast") {
    // the shingle SETS are built per-doc as arrays in the scan stage;
    // shuffles are the two join-side exchanges on (blk, shingle) plus
    // the pair aggregation — and NOTHING else (the round-1 row
    // formulation paid a window exchange + a distinct exchange + a
    // second window before the join). The join must be the spillable
    // sort-merge: Catalyst sizes the exploded shingle index off the
    // UN-exploded input and used to "broadcast" it — a 5.1 GiB hash
    // relation at the 20× symdelete probe, an executor OOM at corpus
    // scale (NearDup hint("merge") sites).
    val p = plan("q21_jaccard")
    val hashX = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashX <= 3, s"expected at most 3 hash exchanges, got $hashX:\n$p")
    val joinLines = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("Inner")).toSeq
    assert(joinLines.nonEmpty && joinLines.forall(_.contains("SortMergeJoin")),
      s"candidate self-join must be sort-merge: $joinLines")
  }

  test("q22 minhash pipeline: long signatures hash-aggregate, no sort agg") {
    val p = plan("q22_minhash_lsh")
    assert(!p.contains("SortAggregate"),
      s"string min() buffers would force SortAggregate — keep the 60-bit " +
        s"long minhash so the signature groupBy hash-aggregates:\n$p")
  }

  test("q62/q65 maxDf caps run as BROADCAST anti-joins") {
    // the cap's 100 TB contract: hot grams are FEW by definition, so
    // dropping them must be a tiny broadcast anti-join — a shuffled
    // (SortMergeJoin) anti-join would re-shuffle the full gram table
    for (q <- Seq("q62_jaccard_capped", "q65_winnow_capped")) {
      val p = plan(q)
      val antiLines = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
      assert(antiLines.nonEmpty, s"$q must contain the cap anti-join:\n$p")
      assert(antiLines.forall(_.contains("BroadcastHashJoin")),
        s"$q cap anti-join must broadcast the hot grams: $antiLines")
    }
  }

  test("q23 simhash signatures derive with no explode and no aggregate") {
    // the fused graft_simhash kernel computes each signature inside the
    // row: the plan must carry NO Generate (the old explode of |tokens|
    // rows) and NO aggregation at all — at corpus scale those were an
    // exchange of |corpus|×|tokens| rows and 64 agg buffers per doc.
    // (The spread repartition on a tiny local file and q23's final
    // orderBy are the only exchanges allowed.)
    val df = graft.operators.NearDup.simhash(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), "simhash must not explode tokens")
    assert(!p.contains("Aggregate"), "simhash must not aggregate")
    assert(p.contains("graft_simhash"), "native kernel must be in the plan")
  }

  test("q66 contamination test is a broadcast semi-join (corpus never shuffles)") {
    // the benchmark shingle set is small by contract; the contamination
    // probe must be a map-side BroadcastHashJoin LeftSemi in the train
    // corpus's scan stage — a SortMergeJoin here would shuffle the whole
    // corpus's shingles at 100 TB
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.operators.NearDup.contamination(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0), "doc_id", "text", 5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected broadcast semi-join, got:\n$p")
    assert(!p.contains("SortMergeJoin"), "corpus shingles must not shuffle")
  }

  test("q20 exact dedup shuffles fingerprints, not documents") {
    val df = SparkEntry.queries("q20_exact_dedup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_min"), "dedup must partial-aggregate map-side")
    // the map-side aggregate output (what crosses the shuffle) must carry
    // the 16-char fingerprint, never the raw text column
    val partialAggLine = p.linesIterator
      .find(_.contains("partial_min")).getOrElse("")
    assert(partialAggLine.contains("fp#"))
    assert(!partialAggLine.contains("text#"),
      s"raw text must not cross the shuffle: $partialAggLine")
  }

  test("q75 PII scrub is scan-stage only: zero exchanges, zero aggregates") {
    val p = plan("q75_pii_redact")
    // the orderBy is presentation; strip its range exchange by pinning
    // the operator output instead
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val op = graft.operators.TextAnalysis.redactPii(docs, "doc_id", "text")
    val opPlan = op.queryExecution.executedPlan.toString
    assert(!opPlan.contains("Exchange"),
      s"redaction must be a pure map over the corpus, got:\n$opPlan")
    assert(!opPlan.contains("Aggregate") && !opPlan.contains("Generate"))
    assert(p.contains("Scan parquet")) // and the query reads via the scan
  }

  test("q76 vocabulary: partial aggregation + top-k heap, no full sort") {
    val df = SparkEntry.queries("q76_vocab")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"),
      "token counts must combine map-side before the exchange")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-k must be a heap, not a global sort:\n$p")
    assert(!p.contains("SortAggregate"),
      "string-keyed counts must hash-aggregate")
  }

  test("q97 per-group top-k keeps the WindowGroupLimit rank pushdown") {
    // the rank-filter rewrite is what bounds the window exchange at
    // ≤ k rows per (partition × key); without it the whole table
    // crosses the wire to be ranked and discarded
    val p = plan("q97_topk_per_group")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must push a map-side top-k heap:\n$p")
  }

  test("q98 constraint checks: one aggregate, one scan, no Expand") {
    val p = plan("q98_quality_checks")
    assert(!p.contains("Expand"),
      s"conditional counts must not multiply the scan:\n$p")
    assert(p.contains("partial_count"),
      "constraint counts must combine map-side")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"all constraints must share one scan:\n$p")
  }

  test("q91 signatures derive via the fused kernel in the scan stage") {
    // the signature must be ONE graft_hyperplane_sig call per row —
    // no per-bit aggregates, no explode, no shuffle before banding.
    // The signature table is PINNED (r14), so its derivation executes
    // in the pin job — assert the kernel + scan-stage shape there
    val (p, pins) = planWithPins(
      graft.operators.Similarity.hyperplaneLshPairs(
        spark.read.parquet(s"$sf/embeddings.parquet"),
        "vec_id", "embedding", dim = 64, bits = 32, bandBits = 8,
        minCosine = 0.35))
    val sig = pins.filter(_.contains("graft_hyperplane_sig"))
    assert(sig.nonEmpty,
      s"native kernel must derive the pinned signatures:\n${pins.mkString("\n---\n")}")
    assert(sig.forall(s => !s.contains("Exchange") &&
                           !s.contains("Aggregate")),
      s"signature derivation must be scan-stage:\n${sig.mkString("\n---\n")}")
    assert(!p.contains("SortAggregate"))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // r18: vectors ride the banding exchange and the cosine scores on
    // the band join's output stream — the ONLY join is the band
    // self-join; a second join means the pair-sized join-back-by-id
    // (the sf10 disk-death shape) has crept back in
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).size
    assert(joins == 1, s"expected the band self-join only, got $joins:\n$p")
    assert(p.contains("graft_dot"),
      s"exact cosine must score in-stream (no attach join):\n$p")
  }

  test("q94 curation pipeline: dedup is the only shuffle work; the rest is scan-stage") {
    // five stages, one exchange site: the fingerprint window — quality
    // gate, hash sample, redaction, and token count must all stay
    // column arithmetic (a second hash exchange means some stage grew
    // a shuffle it doesn't need)
    val p = plan("q94_curation_pipeline")
    val hashX = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashX <= 1, s"expected <=1 hash exchange (fingerprint), got $hashX:\n$p")
    // r18: the canon groupBy + left-semi (two fingerprint evaluations,
    // two exchanges) became a min-over-fingerprint window — one
    // fingerprint pass, one hash exchange, NO join at all
    assert(p.contains("Window"), s"dedup must be the fp-window form:\n$p")
    assert(!p.contains("Join"), s"dedup must not join back:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q92 incremental dedup: in-batch agg + index anti-join, ZERO hash exchanges") {
    // the whole point of the persisted bucketed index: a new batch is
    // admitted with bucket-local work only — the in-batch min() reuses
    // the batch table's at-rest bucketing and the anti-join zips bucket
    // files; one hash exchange here means the index re-shuffles per
    // crawl increment at 100 TB
    val p = plan("q92_incremental_dedup")
    assert(p.contains("LeftAnti"), s"admission must be an anti-join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed dedup must not shuffle:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"anti-join must ride the bucketed sort-merge path:\n$p")
  }

  test("q90 approx profile has NO Expand; q89's exact mode is the one that pays it") {
    // exact multi-count-distinct plans an Expand that multiplies the
    // scan N_cols× — the documented price of exactness (q89). The
    // approx (HLL++) mode is the 100 TB default and must stay an
    // ordinary partial/final aggregate over ONE scan: no Expand, ever.
    // Pinned on the OPERATOR plan: the q90 query joins the exact
    // profile in as the oracle's bound check, so the query plan
    // legitimately carries the exact side's Expand.
    val pApprox = operators.Profile.profileNumeric(
        spark.read.parquet(s"$sf/lineitem.parquet"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        approx = true)
      .queryExecution.executedPlan.toString
    assert(!pApprox.contains("Expand"),
      s"approx profile must not multiply the scan:\n$pApprox")
    assert(pApprox.contains("partial_approx_count_distinct") ||
           pApprox.contains("approx_count_distinct"),
      s"approx profile must aggregate via HLL:\n$pApprox")
    val pExact = plan("q89_profile")
    assert(pExact.contains("Expand"),
      "exact profile is expected to carry the Expand (if Catalyst " +
        "stopped planning one, update the Profile scaladoc)")
  }

  test("q103 contamination score: benchmark grams broadcast, one agg pass") {
    // the benchmark side must ship as a broadcast (eval suites are
    // small by nature); the corpus side contributes ONE aggregate —
    // a shuffled bench side or a second corpus pass is the 100 TB
    // regression this pins against
    val p = plan("q103_contamination_score")
    assert(p.contains("BroadcastHashJoin"),
      s"bench gram set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not sort-merge against the bench set:\n$p")
  }

  test("q104 boilerplate removal is scan-stage after the DF aggregate") {
    // the removal itself must be an array filter in the corpus's own
    // stage: the only exchanges allowed are the line-DF aggregate's
    // pair and the single-row set fold — the corpus text column must
    // never hash-shuffle for reassembly
    val p = plan("q104_boilerplate")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"boilerplate set must arrive as a one-row broadcast:\n$p")
    // reassembly-by-shuffle would show as a Sort or a collect_list agg
    // over the corpus side; the scan-stage form has neither
    assert(!p.contains("collect_list"),
      s"removal must not reassemble docs through an aggregate:\n$p")
  }

  test("q105 repeated spans: gram marks come from stacked windows, no gram-set broadcast") {
    // r18: the countDistinct + left-semi form re-ran the n-gram
    // posexplode on the probe side and broadcast EVERY repeated gram in
    // the corpus; the stacked-window form computes the distinct-doc
    // count per gram hash in place — one gram evaluation, no join
    val p = plan("q105_repeated_spans")
    assert(p.contains("Window"),
      s"repeated-gram marks must come from the window form:\n$p")
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"),
      s"gram marks must not join back or broadcast the gram set:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"span detection must never go quadratic:\n$p")
  }

  test("q79/q80 mixture + upsample stay scan-stage after construction") {
    // mixtureSample's count agg happens at CONSTRUCTION (a #strata-row
    // driver scalar); the returned frame must be a pure predicate over
    // the scan — no exchange, no aggregate
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mix = graft.operators.Sampling.mixtureSample(docs, "doc_id",
      "source", Map("src0" -> 6L, "src1" -> 3L, "src2" -> 1L))
    val pm = mix.queryExecution.executedPlan.toString
    assert(!pm.contains("Exchange") && !pm.contains("Aggregate"),
      s"mixture filter must be scan-stage:\n$pm")
    // upsample is a map + generate: zero exchanges, zero aggregates
    val up = graft.operators.Sampling.upsample(
      docs.select(col("doc_id")), "doc_id", 5, 2)
    val pu = up.queryExecution.executedPlan.toString
    assert(!pu.contains("Exchange") && !pu.contains("Aggregate"),
      s"upsample must be scan-stage:\n$pu")
    assert(pu.contains("Generate"), "upsample fans out via one Generate")
  }

  test("q167 proration: both windows share ONE exchange on the group key") {
    import org.apache.spark.sql.functions._
    val df = spark.range(100).select(
      (col("id") / 7).cast("long").as("g"), col("id").as("line"),
      (col("id") % 5 + 1).as("w"), lit(1000L).as("total"))
    val p = graft.operators.Allocate
      .largestRemainder(df, Seq("g"), "w", "total", Seq("line"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one hash exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"allocation must not join:\n$p")
  }

  test("q166/q176 prefix scans bucket by literal cuts; no range-sampler _pid") {
    // the two-level prefix protocol, cut-literal form (r14): _pid is a
    // fold of comparisons against driver-collected boundary LITERALS,
    // the DATA window hash-partitions on it, and the only
    // partition-less window runs over the <=buckets-row offset table.
    // rangepartitioning in the plan would mean the range sampler is
    // back (two branches re-sampling boundaries is the corruption
    // class the literals exist to prevent).
    // (the query's final presentation orderBy still range-partitions
    // its OUTPUT — the banned marker is the old protocol's
    // spark_partition_id-over-range-exchange derivation of _pid)
    for (name <- Seq("q166_pareto_cover", "q176_skyline")) {
      val p = plan(name)
      assert(!p.toLowerCase.contains("spark_partition_id"),
        s"$name must derive _pid from cut literals, not a range "
          + s"exchange's partition id:\n$p")
      assert(p.toLowerCase.contains("hashpartitioning(_pid"),
        s"$name prefix windows must hash-partition on the cut bucket:\n$p")
    }
  }

  test("q165 gap fill: fill ranges explode AFTER the window; no grid join") {
    val p = plan("q165_gap_fill")
    assert(p.contains("Generate") && p.contains("sequence"),
      s"fill ranges must explode from sequence():\n$p")
    assert(p.contains("max_by") || p.contains("partial_max_by") ||
      p.contains("HashAggregate"),
      s"per-bucket observation must be an ordered-argmax aggregate:\n$p")
    // the r15 shape: lead-ignoreNulls over the OBSERVED-bucket table,
    // each observation explodes its own [bucket, next-1] range — grid
    // rows are generated map-side and never enter a join or window
    // exchange (the old grid-LEFT-JOIN-observations shape pushed 10x
    // the rows through two shuffles at the sf1 leg, 20s vs 4s)
    assert(!p.contains("Join"),
      s"gap fill must not join the grid against observations:\n$p")
  }

  test("q175 cusum: stacked windows reuse one exchange per key") {
    import org.apache.spark.sql.functions._
    val df = spark.range(100).select(
      (col("id") / 10).cast("long").as("k"), col("id").as("t"),
      col("id").cast("double").as("v"))
    val p = graft.operators.Stats
      .cusumAlerts(df, Seq("k"), "t", "t", "v", 10.0, 5.0)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"prefix-sum and low-water windows must share one exchange, got $exchanges:\n$p")
  }

  test("q173 weighted median: per-value weights aggregate with a partial phase") {
    val p = plan("q173_weighted_median")
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"weight aggregation must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q108 semantic dedup subtracts the drop set with one anti-join") {
    val (p, pins) = planWithPins(
      SparkEntry.queries("q108_semdedup")(spark, sf))
    assert(p.contains("LeftAnti"),
      s"dominated ids must leave via an anti-join:\n$p")
    // signatures are pinned (r14) — the fused-kernel property (q91)
    // holds in the pin job's plan
    assert(pins.exists(_.contains("graft_hyperplane_sig")),
      s"signatures must come from the fused kernel (the q91 property):\n" +
        pins.mkString("\n---\n"))
  }

  test("q109 sanitize is scan-stage: zero exchanges in the operator") {
    // same shape contract as q75 redaction: detection + repair are pure
    // regexp projections over the scan; the query's orderBy is
    // presentation
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val op = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.replacementCharCount(col("text")),
      graft.operators.TextAnalysis.controlCharCount(col("text")),
      graft.operators.TextAnalysis.sanitizeText(col("text")))
    val p = op.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Aggregate"),
      s"sanitization must be a pure map over the corpus:\n$p")
  }

  test("q110 weighted sample plans as TakeOrderedAndProject") {
    // A-ES selection is a top-k: per-partition k-heaps + a k-row
    // gather. A global Sort before the limit is the scale regression.
    val p = plan("q110_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"A-ES top-k must be a heap, not a global sort:\n$p")
  }

  test("q106 changeset MERGE: null-safe anti-join broadcasts the changeset") {
    // the changeset is small by definition of an increment — the base
    // corpus must never shuffle to subtract it. A SortMergeJoin here
    // means 100 TB crosses the wire to drop a few thousand keys.
    val p = plan("q106_apply_changeset")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"changeset keys must broadcast into an anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the base corpus must not sort-merge against the changeset:\n$p")
  }

  test("q107 token budget: only the cut bucket pays a window") {
    // the prefix decomposition's whole point: buckets before the cut
    // are a scan-stage predicate; ONE bucket (1/65536 of the corpus)
    // sorts for the cumsum, partitioned by bucket — a global
    // (SinglePartition) window here is the driver-killer this guards
    val p = plan("q107_token_budget")
    assert(p.contains("windowspecdefinition(_b#"),
      s"boundary cumsum must be partitioned by the hash bucket:\n$p")
    assert(!p.contains("SinglePartition"),
      s"no stage may collapse to one partition:\n$p")
    // the before-the-cut branch must be a pure filter at its scan
    // (assert on the Filter node, not the FileScan's DataFilters
    // metadata — that string truncates at 100 chars)
    assert(p.linesIterator.exists(l => l.contains("Filter ") &&
        l.contains("substring(md5") && l.contains(" < ")),
      s"pre-cut buckets must be a scan-stage range predicate:\n$p")
  }

  test("q111 canonical pick is ONE partial-agg'd shuffle on the fingerprint") {
    // same scale shape as q20: the shuffle carries (fp, rank, id) — the
    // max_by must keep its map-side partial phase so duplicate-heavy
    // corpora combine before the exchange
    val p = plan("q111_canonicalize")
    assert(p.contains("partial_max_by") || p.contains("partial_maxby"),
      s"canonical pick must partial-aggregate map-side:\n$p")
    val hashX = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashX == 1, s"expected exactly 1 hash exchange, got $hashX:\n$p")
  }

  test("q112 containment shares q21's sort-merge candidate shape") {
    val p = plan("q112_containment")
    val hashX = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashX <= 3, s"expected at most 3 hash exchanges, got $hashX:\n$p")
    val joinLines = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("Inner")).toSeq
    assert(joinLines.nonEmpty && joinLines.forall(_.contains("SortMergeJoin")),
      s"candidate self-join must be sort-merge (q21's rationale): $joinLines")
    assert(!p.contains("CartesianProduct"),
      s"containment must never be all-pairs:\n$p")
  }

  test("q117 unicode hygiene is scan-stage: native kernels, no exchange") {
    val p = plan("q117_normalize")
    assert(p.contains("graft_nfc") && p.contains("graft_strip_accents"),
      s"normalization must run as the native kernels:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a pure per-row hygiene pass must not shuffle:\n$p")
  }

  test("q118 unigram scoring: corpus total broadcasts as ONE row") {
    // the corpus-total scalar must ride a broadcast (1-row nested-loop),
    // and both aggregations must keep map-side partials — re-deriving
    // the total by re-scanning the corpus is the 100 TB regression
    val p = plan("q118_unigram_logprob")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the one-row total must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"frequency counts must partial-aggregate:\n$p")
  }

  test("q129 decontamination: bench rides broadcasts, corpus never SMJs") {
    // bench signatures, bench vectors, and the contaminated-id set are
    // all broadcast-bounded — any SortMergeJoin means the corpus
    // crossed the wire to subtract a benchmark
    val p = plan("q129_semantic_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"contaminated ids must broadcast into an anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus SMJ:\n$p")
    assert(p.contains("graft_hyperplane_sig"),
      s"signatures must come from the fused kernel:\n$p")
  }

  test("q116 MAD passes keep partial percentile phases, no cartesian") {
    // both median passes must combine map-side (ObjectHashAggregate
    // partials); the join-backs are one-row-per-key tables AQE
    // broadcasts at runtime — statically we pin the aggregate shape
    val p = plan("q116_mad_outliers")
    assert("partial_percentile".r.findAllIn(p).size >= 2,
      s"median and MAD must both partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q142 symdelete candidates equi-join by deletion key — never a block loop") {
    // the SymSpell rewrite's whole point: candidate generation
    // distributes by (block, key) HASH, so no nested-loop/cartesian
    // node may appear — a per-block quadratic loop would serialize
    // each block onto one task
    val p = plan("q142_editdist2")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$p")
    assert(p.contains("levenshtein"),
      s"banded verification must be present:\n$p")
  }

  test("q144 PMI: one-row totals broadcast, counts partial-aggregate") {
    // corpus totals must ride 1-row broadcasts (never a re-scan), and
    // the unigram/bigram counts must keep their map-side partial phase
    // — the count tables are pinned (r14), so the partial phase
    // executes in their pin jobs
    val (p, pins) = planWithPins(
      SparkEntry.queries("q144_pmi_collocations")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"one-row totals must broadcast:\n$p")
    assert(pins.count(_.contains("partial_count")) >= 2,
      s"bigram AND unigram counts must partial-aggregate in their pins:\n" +
        pins.mkString("\n---\n"))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("q146 SCD2: both windows share ONE key exchange and ONE sort") {
    // the change-point filter preserves partition-local order, so the
    // lead() window must reuse the lag() window's exchange AND sort —
    // a second hashpartitioning exchange or a second sort on the same
    // keys means the operator pays its shuffle twice
    val p = plan("q146_scd2_intervals")
    val keyExchanges =
      "Exchange hashpartitioning\\(custkey".r.findAllIn(p).size
    assert(keyExchanges == 1,
      s"expected 1 key exchange, got $keyExchanges:\n$p")
    // the (custkey, ts, ok) sort feeds BOTH windows once; the final
    // rangepartitioned orderBy sort is a different key list
    val keySorts = "Sort \\[custkey[^\\n]*, ts#".r.findAllIn(p).size
    assert(keySorts == 1, s"expected 1 window sort, got $keySorts:\n$p")
    assert("Window".r.findAllIn(p).size == 2,
      s"lag and lead windows expected:\n$p")
  }

  test("q148 OHLC: ordered-argmin aggregates, never a window") {
    // open/close must be min_by/max_by AGGREGATES (map-side combined,
    // one row per bar crosses the wire) — a row_number() window here
    // would shuffle every event and sort each bucket
    val p = plan("q148_ohlc_bars")
    assert(!p.contains("Window"), s"no window allowed:\n$p")
    assert(p.contains("min_by") && p.contains("max_by"),
      s"ordered-argmin aggregates expected:\n$p")
    assert(p.contains("partial_min_by") || p.contains("partial_"),
      s"bars must partial-aggregate:\n$p")
  }

  test("q154 winsorize: percentile bounds partial-aggregate; no cartesian") {
    // the bounds table is one row per event_type (AQE broadcasts the
    // join-back at runtime); statically we pin the partial percentile
    // phase and that no join degenerated to a loop
    // bounds come from exactPercentiles' distinct-value pre-aggregate
    // (partial_count over (key, value)) + rank windows — pin the
    // partial phase and the final report's map-side combine; the
    // one-row-per-key join-back must stay a hash join, never a loop
    val p = plan("q154_winsorize")
    assert(p.contains("partial_count") && p.contains("partial_min"),
      s"bounds must partial-aggregate:\n$p")
    assert(p.contains("partial_avg"),
      s"the clamp report must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"equi-joins only:\n$p")
  }

  test("q155 source overlap: size tables broadcast; shingle join stays equi") {
    val p = plan("q155_source_overlap")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source sizes must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay an equi-join on the shingle:\n$p")
  }

  test("q149 HLL sketches: plain partial aggregate, no Expand") {
    // the sketch route must stay an ordinary agg buffer — an Expand
    // here would mean the multi-distinct shape q89 documents as the
    // 100 TB killer crept back in. Pinned on the OPERATOR plan (the
    // q149 query joins an exact single-distinct twin in for the
    // oracle's bound check — itself Expand-free, which the query-level
    // assertion below still guards).
    // the per-stratum sketch aggregate executes in its pin job (r14);
    // the union aggregate stays in the result plan
    val (pOp, pinsOp) = planWithPins(
      operators.Profile.mergeableDistinct(
        spark.read.parquet(s"$sf/events.parquet"),
        "event_type", "user_id"))
    val sk = pinsOp.filter(_.contains("hll_sketch_agg"))
    assert(sk.nonEmpty, s"sketch aggregate expected in the pin:\n" +
      pinsOp.mkString("\n---\n"))
    assert(sk.forall(!_.contains("Expand")),
      s"no Expand in the sketch path:\n${sk.mkString("\n---\n")}")
    assert(!pOp.contains("Expand") && pOp.contains("hll_union_agg"),
      s"union aggregate (Expand-free) expected:\n$pOp")
    val (p, pinsQ) = planWithPins(
      SparkEntry.queries("q149_hll_mergeable")(spark, sf))
    assert(!p.contains("Expand") &&
           pinsQ.filter(_.contains("hll_sketch_agg"))
             .forall(!_.contains("Expand")),
      s"q149's exact twin must stay single-distinct (no Expand):\n$p")
    assert(pinsQ.exists(_.contains("hll_sketch_agg")) &&
           p.contains("hll_union_agg"),
      s"sketch (pin) + union (query) aggregates expected:\n$p")
  }

  test("q189 adamic-adar: wedges + adjacency cut stay equi/semi joins") {
    val p = plan("q189_adamic_adar")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"wedge generation must never go all-pairs:\n$p")
    assert(p.contains("LeftAnti"),
      s"already-adjacent pairs must leave via an anti-join:\n$p")
  }

  test("q192 PPS: prefix decomposition windows are bucket-partitioned") {
    // the per-row cumsum must partition on the hash-prefix bucket; the
    // only unpartitioned window is the ≤256-row offsets table
    val p = plan("q192_pps_sample")
    assert(p.contains("Window"), p)
    // executed-plan rendering: Window [fns], [partitionExprs], [order]
    assert(p.contains("], [_b#"),
      s"row cumsum must partition on the md5-prefix bucket:\n$p")
  }

  test("q195 sequences: both leads ride ONE exchange and ONE sort") {
    val p = plan("q195_event_sequences")
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(exchanges <= 2, // lead window + final aggregation
      s"n-gram leads must share a single per-user exchange:\n$p")
    assert(p.contains("lead("), p)
  }

  test("q196 JW linkage: both kernels evaluate inside codegen stages") {
    val p = plan("q196_jw_linkage")
    assert(p.contains("graft_jaro_winkler") && p.contains("graft_damerau"),
      s"native kernels expected in the plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay the symdelete equi-join:\n$p")
  }

  test("q204 LTV: the cumulative window runs over the cohort aggregate") {
    // the window's input must be the (cohort, age) aggregate — a
    // window whose child scans raw events would shuffle the fact table
    val p = plan("q204_ltv_curves")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p)
    assert(p.substring(winIdx).contains("HashAggregate"),
      s"window must sit above the weekly aggregate, not raw events:\n$p")
  }

  test("q206 rolling distinct: bounded explode, distinct before count") {
    val p = plan("q206_rolling_distinct")
    assert(p.contains("Generate explode"),
      s"the 7-offset fan-out must be a generate, not a join:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q199 and q232 plan a bucket Generate and an equi-join, not a BNLJ") {
    // both run on RangeJoin.bucketedOverlapJoin: the interval sides
    // explode into buckets and join on the bucket id. A regression to
    // the plain inequality join would keep their correctness rows green
    // while the plan turned quadratic; this is the net for that.
    val equiOnBucket =
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[_bkt".r
    for (q <- Seq("q199_range_band_join", "q232_overlap_rule_join")) {
      val p = plan(q)
      assert(p.contains("Generate explode(sequence("), s"$q:\n$p")
      assert(equiOnBucket.findFirstIn(p).nonEmpty, s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
             !p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("as-of queries run on exactly one AsOfJoinExec, no union-LOCF column") {
    // every as-of caller goes through the co-partitioned sort-merge
    // exec; a `_side` tag column would mean a union + window form crept
    // back in next to (or instead of) it
    for (q <- Seq("q14_asof_join", "q134_attribution",
        "q162_point_in_time", "q178_latency_percentiles",
        "q181_nearest_event", "q250_asof_exec",
        "q272_asof_nearest_exec")) {
      val p = plan(q)
      assert("AsOfJoin \\[".r.findAllIn(p).length == 1, s"$q:\n$p")
      assert(!p.contains("_side"), s"$q:\n$p")
    }
  }

  test("q277 SQL simhash is scan-stage: native kernel, no exchange before sort") {
    // the fused kernel must keep the signature computation in the scan
    // stage — one shuffle total (the final ORDER BY), no aggregate or
    // join machinery sneaking in via the SQL surface
    val p = plan("q277_sql_simhash")
    assert(p.contains("graft_simhash") || p.contains("simhash64"),
      s"native kernel must appear in the plan:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"simhash over documents is scan + one sort exchange:\n$p")
    assert(!p.contains("HashAggregate"), p)
  }

  test("q281 SQL zorder groups with a partial phase on the z-bucket") {
    val p = plan("q281_sql_zorder")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"z-bucket aggregate must keep its map-side phase:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p)
  }

  test("q276 SQL bucket_id joins the width table broadcast or shuffled-equi") {
    val p = plan("q276_sql_bucket_id")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"),
      s"width lookup must stay an equi join:\n$p")
    assert(p.contains("bucket_id"), s"native kernel in plan:\n$p")
  }
}
