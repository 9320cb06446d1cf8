package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph-signal operators for corpus curation: link-graph authority
  * scoring (PageRank). A domain/page authority prior is a standard
  * crawl-curation quality signal (Common Crawl publishes harmonic +
  * PageRank centrality rankings for exactly this use); together with
  * [[Components]] (duplicate-class closure) this gives the engine its
  * iterative-graph family. The reference has no graph analog — this is
  * training-pipeline surface, like NearDup/Similarity.
  *
  * ROUND PROTOCOL (r19). The fixed-iteration recurrences (pageRank /
  * weighted / personalized, HITS, label propagation) reference each
  * round's table ONCE (or twice, behind a shared exchange) in the next
  * round, and the iteration count is a small API constant — so the
  * rounds compose into ONE lazy plan whose single action executes the
  * whole recurrence: no per-round eager checkpoint write, no per-round
  * job submission, no per-round AQE session. Lineage stays
  * O(iterations) by the fixed-count contract, and recovery rides
  * Spark's shuffle files (stage retry recomputes only the lost stage).
  * The three PageRank forms share one round loop, [[walk]]; each keeps
  * only its edge prep, its base table (uniform or seed restart) and the
  * count that sizes it.
  * What pins: the multiply-scanned BASE tables (edge set / node
  * universe / restart vector) — pinned ONCE via [[Components.pin]]
  * (`reliable = true` for durable checkpoints), so the returned plan
  * references LogicalRDDs whose blocks the ContextCleaner releases when
  * the result frame dies (a bare persist would leak a CacheManager
  * entry for the session lifetime — the r14 class). The reference's
  * only materialization is likewise its hand-off between parts
  * (runAll.py:37-44).
  *
  * Measured (r19, sf0.1 local[32]): the r18 per-round pin protocol paid
  * ~0.5-0.9 s of pure job/checkpoint machinery per round, and the lazy
  * rounds won or tied on every graph query at both scales with
  * identical outputs (OPTIMIZATION_r19.md §1). Convergence-probed loops
  * (Components, kCorePeel's per-round reuse, bfsDistances' multi-
  * referenced frontier levels) KEEP per-round pins: their rounds are
  * re-read many times, which is what the eager checkpoint is for.
  */
object Graph {

  /** Lazy rounds between pins in [[pageRank]]'s `redistributeSinks`
    * form, whose rounds each read the previous one twice: a stretch of
    * k lazy rounds plans 2^k copies of its first round. 3 keeps every
    * registered sinks query (3 iterations) one lazy plan.
    */
  private val SinkPinEvery = 3

  /** Simplified PageRank with a FIXED iteration count:
    *
    * {{{ pr_{k+1}(v) = (1-d)/N + d * Σ_{u→v} pr_k(u) / outdeg(u) }}}
    *
    * By default no dangling-mass redistribution — a sink node's mass
    * leaves the system (the common "pseudo-PageRank" simplification) —
    * so the recurrence is a pure join+agg both this code and an
    * unrolled SQL oracle can state identically. `redistributeSinks =
    * true` switches to the stochastic-matrix form: each round adds the
    * sinks' aggregate rank back uniformly,
    * {{{ pr_{k+1}(v) = (1-d)/N + d * (Σ_{u→v} pr_k(u)/outdeg(u) + dm_k/N) }}}
    * where `dm_k = Σ_{sinks s} pr_k(s)`, so Σ pr = 1 exactly. The sink
    * mass is a one-row aggregate CROSS-JOINED (broadcast) into the
    * round's plan — never a graph-sized collect; the sink id set is
    * derived once (nodes anti-join out-degree) and pinned, and every
    * third round is pinned (see [[SinkPinEvery]]).
    * Multi-edges collapse (simple graph); the node universe is every
    * id appearing as src or dst.
    *
    * Scale design (the rounds are [[walk]]'s):
    *  - The edge table is joined with out-degrees ONCE, pre-partitioned
    *    on src, and pinned — every round's contribution join reuses
    *    that partitioning; only the (small) rank table moves per round.
    *  - Each round is exactly two shuffles (rank join + dst aggregation)
    *    over O(|E|) rows, map-side-combined; no collect of anything
    *    graph-sized. The one driver-side scalar is N (a count — same
    *    contract as Similarity's centroid collect).
    *  - Rounds compose into ONE lazy plan (the [[Graph]] round
    *    protocol): the fixed iteration count bounds lineage, the single
    *    action runs the whole recurrence with no per-round checkpoint
    *    write or job, and recovery rides the shuffle files. Base tables
    *    (nodes, linked, sinks) are pinned once.
    *
    * Returns (id, pr) with Σ pr ≤ 1 (equality iff no sinks or
    * `redistributeSinks`).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85,
               reliable: Boolean = false,
               redistributeSinks: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // persisted: nodes, outdeg and linked all derive from the distinct
    // — uncached, each would re-pay the dedup shuffle. e itself is only
    // scanned at CONSTRUCTION (building nodes/linked/sinks), so a
    // construction-scoped persist is the right lifetime ([[walk]]
    // releases it).
    val e = directed(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (nodes, n, base) = uniformBase(e, damping, reliable)
    val linked = outdegLinked(e, reliable)
    // sink ids (no out-edges) — only materialized when their mass is
    // redistributed; node-sized, one anti-join, reused every round
    val sinks =
      if (redistributeSinks)
        Some(Components.pin(nodes.join(
          e.select(col("src").as("id")).distinct(), Seq("id"), "left_anti"),
          reliable) -> n)
      else None
    walk(e, linked, col("pr") / col("outdeg"), base, damping, iterations,
      reliable, sinks)
  }

  /** WEIGHTED PageRank: each node splits its rank over out-edges
    * proportionally to edge WEIGHT (pr·w/wout instead of pr/outdeg) —
    * the form for co-occurrence/support graphs, where a 100-support
    * edge should carry 50× the endorsement of a 2-support edge and
    * the unweighted walk ([[pageRank]]) flattens exactly the signal
    * the weights encode.
    *
    * Same scale shape and lifecycle as [[pageRank]] (the same
    * [[walk]] over the same uniform base); only the edge prep
    * differs. Weights must be positive integers (support counts); wout
    * sums exactly, the ratio casts to double once per edge.
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int,
                       damping: Double = 0.85,
                       reliable: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, _, base) = uniformBase(e, damping, reliable)
    // wout via count-over-window on the one src exchange the pinned
    // frame needs anyway — see [[outdegLinked]] (r18)
    val linked = Components.pin(e.repartition(col("src"))
      .withColumn("wout", sum(col("w")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout").cast("double"))
          .as("share")), reliable)
    walk(e, linked, col("pr") * col("share"), base, damping, iterations,
      reliable)
  }

  /** The directed simple edge set (src, dst) of the unweighted walks
    * and [[hits]]: long ids, null endpoints dropped, multi-edges
    * collapsed. */
  private def directed(edges: DataFrame, srcCol: String,
                       dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("src"),
              col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

  /** Node universe in ONE scan of an (src, dst) edge set via explode
    * (q222's fusion, r18) — the two-scan union read the cached edges
    * twice per materialization; same distinct id set either way. */
  private def nodeIds(e: DataFrame): DataFrame =
    e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()

  /** The uniform-restart walk base over `e`'s node universe: the pinned
    * node table, N, and (id, rs = (1-d)/N, pr0 = 1/N). Nodes are
    * pinned ONCE: every round's base join and the init rank table read
    * them from the returned plan, after `e` is unpersisted. N is the
    * walk family's one driver scalar for uniform restart. */
  private def uniformBase(e: DataFrame, damping: Double, reliable: Boolean)
      : (DataFrame, Double, DataFrame) = {
    val nodes = Components.pin(nodeIds(e), reliable)
    val n = nodes.count().toDouble // driver scalar, O(1) bytes
    (nodes, n, nodes.select(col("id"), lit((1 - damping) / n).as("rs"),
      lit(1.0 / n).as("pr0")))
  }

  /** (src, dst, outdeg), pinned. outdeg is attached by a count-over-
    * window on the SAME src exchange that the pinned frame needs
    * anyway (r18): the groupBy+join form exchanged the edge set once
    * for the aggregate and once for the repartition (plus a broadcast
    * build); the window form exchanges it ONCE and counts within the
    * partition — identical rows, and the pinned partitioning
    * (hash(src)) is unchanged, so every round's contribution join
    * still moves only the ranks. */
  private def outdegLinked(e: DataFrame, reliable: Boolean): DataFrame =
    Components.pin(e.repartition(col("src"))
      .withColumn("outdeg", count(lit(1)).over(
        Window.partitionBy(col("src")))), reliable)

  /** The PageRank family's one round loop:
    * {{{ pr_{k+1}(v) = rs(v) + d * (Σ_{u→v} share_k(u→v) + dm_k/N) }}}
    * over the pinned `linked` (src, dst, …) table and the base
    * (id, rs, pr0), starting from pr0. `share` is one edge's part of
    * its source's rank, over linked's columns and `pr`. The dm_k/N
    * term exists only when `sinks` carries the pinned sink ids and N
    * (see [[pageRank]]). `e`, the construction-scoped edge persist, is
    * released once the bases are built. Returns (id, pr).
    */
  private def walk(e: DataFrame, linked: DataFrame, share: Column,
                   base: DataFrame, damping: Double, iterations: Int,
                   reliable: Boolean,
                   sinks: Option[(DataFrame, Double)] = None): DataFrame = {
    var ranks = base.select(col("id"), col("pr0").as("pr"))
    for (r <- 1 to iterations) {
      val contrib = linked
        .join(ranks.select(col("id").as("src"), col("pr")), "src")
        .select(col("dst").as("id"), share.as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("inmass"))
      val joined = base.join(contrib, Seq("id"), "left")
      val inmass = coalesce(col("inmass"), lit(0.0))
      ranks = sinks match {
        case None =>
          joined.select(col("id"),
            (col("rs") + lit(damping) * inmass).as("pr"))
        case Some((sk, n)) =>
          // dangling mass this round: one-row aggregate over the rank
          // table, broadcast into every task. This is the recurrence's
          // one DOUBLE reference to the previous round — both branches
          // contain the identical subtree, so its exchanges collapse
          // via ReuseExchange/AQE stage reuse and only the node-sized
          // post-shuffle tail evaluates twice. The logical plan still
          // doubles per round (2^iterations copies of round 1), so
          // every SinkPinEvery-th round is pinned: the plan stays
          // O(iterations) and short recurrences stay one lazy plan
          val dm = ranks.join(sk, "id")
            .agg(coalesce(sum(col("pr")), lit(0.0)).as("_dm"))
          val stepped = joined.crossJoin(broadcast(dm))
            .select(col("id"), (col("rs") + lit(damping) *
              (inmass + col("_dm") / lit(n))).as("pr"))
          if (r % SinkPinEvery == 0 && r < iterations)
            Components.pin(stepped, reliable)
          else stepped
      }
    }
    e.unpersist(false)
    ranks
  }

  /** Iterative k-core PEELING with a FIXED round count: each round
    * simultaneously removes every node whose current degree is < k,
    * then restricts the edge set to survivors — the degeneracy-ordering
    * primitive behind "dense cluster extraction" (spam rings, boiler-
    * plate template families) and a third member of the iterative-graph
    * family. Fixed rounds (vs run-to-fixpoint) keep the computation
    * oracle-unrollable; at convergence the survivors are exactly the
    * k-core, and each extra round only ever shrinks the set, so
    * `rounds` acts as a documented lower-bound approximation knob.
    *
    * SCALE SHAPE: a round is one degree aggregation (map-side combined)
    * plus two semi-joins of the edge table against the surviving-node
    * table — all hash-distributed, nothing collected; an eager
    * checkpoint per inner round via Components' pin/releasePin keeps
    * the plan O(1) (`reliable = true` for executor-loss recovery); the
    * final round stays lazy.
    *
    * Returns (id, deg): survivors after `rounds` peels with their
    * degree in the REMAINING graph.
    */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int,
                reliable: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("u"), col("v"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    var cur = Components.pin(undirected(edges, srcCol, dstCol), reliable)
    for (r <- 1 to rounds) {
      val keep = degrees(cur).where(col("deg") >= k).select(col("id"))
      val nextPlan = cur
        .join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
      if (r == rounds) {
        // FINAL round (r19): consumed exactly once, by the closing
        // degrees scan — its eager pin bought no reuse, only a
        // checkpoint write + job. The two keep copies in the semi-joins
        // are identical subtrees over the PINNED cur, so their
        // aggregation exchange is shared (ReuseExchange). Inner rounds
        // keep their pins: cur is re-scanned 3x per round.
        cur = nextPlan
      } else {
        val next = Components.pin(nextPlan, reliable)
        Components.releasePin(cur, reliable)
        cur = next
      }
    }
    degrees(cur)
  }

  /** Per-node triangle counts (undirected, simple graph) — the local
    * clustering signal link-spam / bot-farm detection reads off a
    * crawl graph. Edges are canonicalized to unordered pairs; each
    * triangle contributes 1 to each of its three corners.
    *
    * SCALE SHAPE — degree orientation (the classic O(|E|^{3/2}) trick):
    * every canonical edge is re-directed from its lower-(degree, id)
    * endpoint to the higher one, so each node's out-neighborhood in
    * the oriented graph is bounded by O(√|E|) even on power-law
    * graphs. Wedges are generated by joining oriented edges head-to-
    * tail and closed by a third equi-join against the oriented edge
    * set — three hash joins, no node ever enumerates its full
    * undirected neighborhood² (the naive wedge count explodes on hub
    * nodes; the oriented one provably cannot). The result is
    * orientation-independent, so the oracle states the plain
    * a<b<c 3-way join.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    // pinned (eager), NOT persist: a lazy persist here was a
    // session-lifetime CacheManager leak (nothing ever unpersisted it)
    // — the same class the r14 sweep closed elsewhere
    val out = triangleCountCanonical(
      Components.pin(undirected(edges, srcCol, dstCol), reliable = false))
    out
  }

  /** [[triangleCount]] body over edges that are ALREADY canonical
    * (u < v, distinct, non-null) — callers holding a canonical persisted
    * edge set (clusteringCoefficient) skip the re-dedup shuffle. */
  private def triangleCountCanonical(ec: DataFrame): DataFrame = {
    val deg = ec.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) → high-(deg, id); deg rides along via two
    // joins on the (small) degree table
    val oriented = ec
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b")))
        .as("e"))
      .select(col("e.a"), col("e.b"))
    // pinned: scanned three times by the wedge-close join below, and a
    // lazy persist (the old form) leaked a CacheManager entry forever
    val orientedP = Components.pin(oriented, reliable = false)
    val tri = orientedP
      .join(orientedP.select(col("a").as("b"), col("b").as("c")), "b")
      .join(orientedP.select(col("a"), col("b").as("c"),
        lit(1).as("_closed")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    // all three corners in ONE scan of the close join's output (r19):
    // the union-of-three-projections form re-EXECUTED the wedge-close
    // join per branch — only its input exchanges were shared, so the
    // probe/merge ran 3x (at the 100x twin: one close pass 23 s, the
    // union tail 76 s; OPTIMIZATION_r19.md §4, plans/r19/TRIDECOMP_*.txt).
    // explode emits the same corner multiset from a single pass, and
    // the join runs once.
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
    val out = deg.select(col("id"))
      .join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n"), lit(0L)).as("triangles"))
    out
  }

  /** Multi-source BFS: minimum hop distance from any seed node, up to
    * `maxHops` rounds — the reachability/proximity primitive behind
    * "within-k-hops of a known-spam domain" crawl filters and seed-set
    * expansion. Fixed rounds (vs run-to-fixpoint) keep the computation
    * oracle-unrollable and the job count static; a round whose frontier
    * is already empty unions zero rows and costs one no-op job, so
    * `maxHops` past the true eccentricity is safe, merely wasteful.
    *
    * SCALE SHAPE — delta-frontier expansion, not dense relaxation: each
    * round joins the EDGE table against only the nodes first reached
    * last round (`dist = h−1`), dedups the neighbor set, and anti-joins
    * out everything already labeled — O(|frontier edges|) shuffled per
    * round, not O(|V|)·rounds. Only each round's FRESH level is
    * checkpointed (Components' pin; `reliable = true` for
    * executor-loss recovery): the settled set is the lazy union of the
    * ≤maxHops pinned levels, so no round re-materializes what earlier
    * rounds already wrote. Nothing is ever collected.
    *
    * Returns (id, dist: int) for every node within `maxHops` of a seed;
    * seeds themselves are dist 0 (even if isolated). Unreached nodes
    * are absent, not NULL — at corpus scale the reached set is the
    * small one.
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   sources: DataFrame, idCol: String, maxHops: Int,
                   undirected: Boolean = true,
                   reliable: Boolean = false): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val e0 = edges
      .select(col(srcCol).cast("long").as("s"),
              col(dstCol).cast("long").as("d"))
      .where(col("s").isNotNull && col("d").isNotNull &&
             col("s") =!= col("d"))
    // both directions in ONE pass over the (unpersisted) upstream edge
    // build — the union form EXECUTED the whole upstream subtree twice
    // before the distinct (r18); explode emits the two orientations
    // from one scan, same distinct set
    val e1 = (if (undirected)
                e0.select(explode(array(
                    struct(col("s"), col("d")),
                    struct(col("d").as("s"), col("s").as("d")))).as("_b"))
                  .select(col("_b.s").as("s"), col("_b.d").as("d"))
              else e0)
      .distinct()
    // the edge set is pinned ONCE (same single materialization a
    // persist pays, minus the CacheManager entry) so the FINAL level
    // can stay lazy — it is consumed exactly once, by the output
    // union, and its eager pin bought only a checkpoint write + job.
    // Inner levels keep their pins: level h is re-read as the next
    // frontier AND by every later round's settled anti-join (the
    // delta-frontier design depends on those reads being cheap).
    val e = Components.pin(e1, reliable)
    // one pinned table PER LEVEL, never a re-materialized union: round
    // h checkpoints only the fresh frontier (which SHRINKS as the
    // search saturates), and the settled set is the lazy union of the
    // ≤maxHops pinned levels — each already materialized, so the union
    // is maxHops scans, not a re-write of everything settled so far.
    var levels = List(Components.pin(
      sources.select(col(idCol).cast("long").as("id")).distinct()
        .select(col("id"), lit(0).as("dist")), reliable))
    for (h <- 1 to maxHops) {
      val frontier = levels.head.select(col("id").as("s"))
      val settled = levels.map(_.select(col("id"))).reduce(_.union(_))
      val freshPlan = e.join(frontier, "s")
        .select(col("d").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .select(col("id"), lit(h).as("dist"))
      val fresh =
        if (h == maxHops) freshPlan // consumed once, by the union
        else Components.pin(freshPlan, reliable)
      levels = fresh :: levels
    }
    levels.reduce(_.union(_))
  }

  /** Synchronous label propagation (community detection) with a FIXED
    * iteration count — the deterministic LPA variant: every node starts
    * labeled with its own id; each round every node simultaneously
    * adopts the most frequent label among its neighbors (the graph is
    * treated as undirected), ties broken by SMALLEST label. Synchronous
    * update + deterministic tie-break make the result engine-exact, so
    * the oracle can unroll the same rounds in SQL (the async
    * "random order" folklore variant is not reproducible across
    * engines and is deliberately not implemented).
    *
    * Scale design (the [[pageRank]] protocol):
    *  - the undirected simple edge list is built once (union +
    *    distinct) and pinned via [[Components.pin]] (`reliable = true`
    *    for a durable checkpoint); every node in the universe has ≥ 1
    *    neighbor by construction, so no isolated-node branch.
    *  - each round = one rank-table join + one (node, label) count agg
    *    + one per-node argmax agg — all map-side combined, O(|E|) rows
    *    shuffled, nothing collected. The argmax is
    *    `max(struct(cnt, -label))` — an AGGREGATE, not a window, so
    *    the per-node reduction happens map-side too.
    *  - the rounds compose into one lazy plan, O(iterations) deep.
    *
    * Returns (id, label); nodes sharing a label after k rounds are one
    * community. Labels are a subset of node ids.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int,
                       reliable: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges
      .select(col(srcCol).cast("long").as("u"),
              col(dstCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
             col("u") =!= col("v"))
    // one pass over the upstream edge build (was a two-scan union that
    // executed the unpersisted subtree twice — r18, see bfsDistances).
    // und is scanned EVERY round — pinned once (the rounds read it from
    // the returned plan, long after construction)
    val und = Components.pin(e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("_b"))
      .select(col("_b.u").as("u"), col("_b.v").as("v"))
      .distinct(), reliable)

    var labels = und.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    for (_ <- 1 to iterations) {
      val counts = und
        .join(labels.select(col("id").as("v"), col("label")), "v")
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      labels = counts
        .groupBy(col("u"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
        .select(col("u").as("id"), (-col("m.neg")).as("label"))
    }
    labels
  }

  /** HITS hubs & authorities with a FIXED iteration count and L1
    * normalization — the bipartite-flavored authority signal (a page
    * is a good authority if good hubs link to it; a good hub if it
    * links to good authorities). Complements [[pageRank]]: HITS
    * separates "points at quality" from "is quality", which is the
    * right shape for crawl seed-list curation (hubs) vs corpus
    * admission (authorities).
    *
    * Per round: `a(v) = Σ_{u→v} h(u)`, `h(u) = Σ_{u→v} a(v)`; ONE L1
    * normalization at the very end. Intermediate normalizations
    * CANCEL: the recurrence is linear, so rescaling an iterate
    * rescales every later iterate by the same constant and the final
    * normalized vectors are identical — running them would cost a
    * one-row aggregate + rebroadcast per half-step for nothing
    * (magnitudes grow ~⟨deg⟩^2k, nowhere near double range for the
    * fixed small k this API takes). L1 (sum) rather than the textbook
    * L2 keeps the oracle sqrt-free; the fixed-point direction is
    * identical. The final normalizer is a ONE-ROW aggregate broadcast
    * — never a graph-sized collect.
    *
    * SCALE SHAPE (the [[pageRank]] protocol): the distinct edge list
    * and the node universe are pinned once via [[Components.pin]]
    * (`reliable = true` for durable checkpoints); each half-step is ONE
    * score-table join + ONE map-side-combined aggregation over O(|E|)
    * rows (zero-score nodes are simply absent from intermediates —
    * they contribute nothing — and are 0-filled once at the end). The
    * rounds compose into one lazy plan, two joins deep per round; the
    * final auth table's exchanges are shared with the final hub
    * half-step (identical subtrees), and the node-sized result is
    * pinned once before normalization. Returns
    * (id, hub, auth) over the full node universe — nodes with no
    * in-edges have auth 0, no out-edges hub 0.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int, reliable: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // e is scanned TWICE PER ROUND (both half-steps) — pinned once so
    // the returned plan's rounds read checkpoint blocks, not a
    // recomputed dedup per scan
    val e = Components.pin(directed(edges, srcCol, dstCol), reliable)
    val nodes = Components.pin(nodeIds(e), reliable)
    var hubs = nodes.select(col("id"), lit(1.0).as("hub"))
    var auths: DataFrame = null
    for (_ <- 1 to iterations) {
      auths = e
        .join(hubs.select(col("id").as("src"), col("hub")), "src")
        .groupBy(col("dst")).agg(sum(col("hub")).as("auth"))
        .select(col("dst").as("id"), col("auth"))
      hubs = e
        .join(auths.select(col("id").as("dst"), col("auth")), "dst")
        .groupBy(col("src")).agg(sum(col("auth")).as("hub"))
        .select(col("src").as("id"), col("hub"))
    }
    // joined is read twice (the normalizers and the output), and hubs
    // holds the final auths too: a lazy output would plan the whole
    // recurrence four times over. Pinned once, the rounds run as ONE
    // lazy plan inside the pin's job and the output plan is O(1)
    val joined = Components.pin(nodes
      .join(hubs, Seq("id"), "left")
      .join(auths, Seq("id"), "left")
      .select(col("id"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth")), reliable)
    val tots = joined.agg(sum(col("hub")).as("_th"),
      sum(col("auth")).as("_ta"))
    val out = joined.crossJoin(broadcast(tots))
      .select(col("id"), (col("hub") / col("_th")).as("hub"),
        (col("auth") / col("_ta")).as("auth"))
    out
  }

  /** PERSONALIZED PageRank: random walk with restart to a SEED SET —
    * relevance relative to a starting neighborhood rather than global
    * authority, the seed-expansion primitive ("find more pages like
    * these known-good domains") a crawl-frontier curator runs.
    * {{{ ppr_{k+1}(v) = (1-d)·s(v) + d·Σ_{u→v} ppr_k(u)/outdeg(u) }}}
    * with s uniform over the seeds (restart mass returns to seeds,
    * not the whole graph — the only difference from [[pageRank]]'s
    * recurrence, and the whole point: mass concentrates near the
    * seeds). Sink mass leaves the system (pseudo-PPR), keeping the
    * recurrence oracle-unrollable.
    *
    * SCALE SHAPE: [[pageRank]]'s [[walk]] with the restart vector as
    * its base — pre-joined edge+outdeg table and restart vector pinned
    * once, two shuffles per round, the rounds composed into one lazy
    * plan; the seed indicator is a broadcast semi/left join, never a
    * collect. Returns (id, ppr) over the node universe.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iterations: Int,
                           damping: Double = 0.85,
                           reliable: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = directed(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // nodes feeds only the restart build, so a construction-scoped
    // persist suffices (the rounds reference restart)
    val nodes = nodeIds(e).persist(StorageLevel.MEMORY_AND_DISK)
    val seedIds = seeds.select(col(seedCol).cast("long").as("id"))
      .distinct()
    // restart vector: 1/|S| on seeds present in the graph, 0 elsewhere
    val s = nodes.join(seedIds, Seq("id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSeeds = s.count().toDouble // driver scalar, O(1) bytes
    require(nSeeds > 0, "no seed is a graph node")
    // the walk base (id, rs = (1-d)·s, pr0 = s) is read EVERY round
    // (the base left-join) + as the init rank vector — pinned once
    val sv = coalesce(col("_s"), lit(0.0))
    val restart = Components.pin(nodes
      .join(s.select(col("id"), lit(1.0 / nSeeds).as("_s")),
        Seq("id"), "left")
      .select(col("id"), (lit(1 - damping) * sv).as("rs"), sv.as("pr0")),
      reliable)
    nodes.unpersist(false)
    s.unpersist(false)
    walk(e, outdegLinked(e, reliable), col("pr") / col("outdeg"), restart,
      damping, iterations, reliable)
      .select(col("id"), col("pr").as("ppr"))
  }

  /** Adamic–Adar link prediction over an undirected simple graph:
    * for every NON-adjacent pair (a, b) sharing ≥ 1 neighbor,
    * `aa(a,b) = Σ_{v ∈ N(a)∩N(b)} 1/ln(deg(v))` — the classic
    * "which links are missing" score (near-dup sources that should
    * share an edge, entity pairs one noisy record short of linking).
    *
    * SCALE SHAPE — the wedge join is quadratic IN EACH SHARED
    * NEIGHBOR's degree, so hub nodes are excluded up front by
    * `maxDegree` (the [[NearDup]] `maxDf` doctrine: a node of degree
    * d contributes C(d,2) wedge pairs; a celebrity node would emit
    * billions while carrying ~zero AA mass — its 1/ln(deg) term is
    * the smallest in the sum). With the cap, wedge count is bounded
    * by |V|·maxDegree², hash-distributed on the shared neighbor.
    * One anti-join removes already-adjacent pairs. deg(v) is always
    * the TRUE degree (computed before the cap) — the cap limits which
    * wedges are enumerated, not the score definition.
    *
    * Returns (a, b, common, aa) with a < b, aa rounded caller-side.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 maxDegree: Int): DataFrame = {
    require(maxDegree >= 2, "maxDegree must be >= 2")
    // pinned (eager) — see clusteringCoefficient: the construction-time
    // persist/unpersist pair was a no-op; adjacency (x2), degrees, and
    // the known-edge anti-join each recomputed the dedup
    val und = Components.pin(undirected(edges, srcCol, dstCol),
      reliable = false)
    // adjacency (both directions) + true degrees
    // both adjacency directions in ONE scan of the pinned edge set
    // (explode of the two orientations; was a two-scan union — r18)
    val nb = und.select(explode(array(
        struct(col("u").as("v0"), col("v").as("n")),
        struct(col("v").as("v0"), col("u").as("n")))).as("_d"))
      .select(col("_d.v0").as("v0"), col("_d.n").as("n"))
    val deg = nb.groupBy(col("v0")).agg(count(lit(1)).as("deg"))
    // wedges through capped-degree centers only
    val center = nb.join(deg.where(col("deg") <= maxDegree), "v0")
    val wedges = center.select(col("v0"), col("n").as("a"), col("deg"))
      .join(center.select(col("v0"), col("n").as("b")), "v0")
      .where(col("a") < col("b"))
    val scored = wedges
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("deg").cast("double"))).as("aa"))
    val out = scored
      .join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
    out
  }

  /** Canonical undirected simple edges: (u < v), self-loops and
    * duplicates dropped. */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("s"),
        col(dstCol).cast("long").as("d"))
      .where(col("s").isNotNull && col("d").isNotNull &&
        col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"),
        greatest(col("s"), col("d")).as("v"))
      .distinct()

  /** Newman MODULARITY of a node partition: per community c,
    * {{{ Q_c = e_c/m − (d_c / 2m)² }}}
    * (e_c = internal edges, d_c = summed degree, m = total edges;
    * Q = Σ Q_c). The "is this community structure real" audit for a
    * dedup-class / topic / domain partition over a link graph.
    * Nodes missing from `communities` are excluded (their edges still
    * count in m and in their neighbors' degrees). Communities with no
    * internal edges still get a row (the −(d_c/2m)² mass is real).
    *
    * SCALE SHAPE: one edge dedup, one degree aggregate, one |V|-sized
    * community join, one internal-edge count — every join is an
    * equi-join on node id; m is a one-row broadcast. No iteration.
    * Returns (community, e_c, d_c, q_c r9) sorted by the caller.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 communities: DataFrame, nodeCol: String,
                 commCol: String): DataFrame = {
    // pinned (eager) — see clusteringCoefficient: the construction-time
    // persist/unpersist pair was a no-op; m, degrees, and the internal-
    // edge count each recomputed the edge dedup
    val und = Components.pin(undirected(edges, srcCol, dstCol),
      reliable = false)
    // One scan of `und` covers both degree AND m: explode the two
    // endpoints (instead of a two-scan union) and derive m = Σdeg/2
    // from the |V|-sized degree table. `deg` feeds three branches
    // (m, d_c, both sides of the internal-edge join) but is NOT
    // pinned (r18): AQE's runtime exchange reuse already shares the
    // degree shuffle's map side across the branches, so the pin only
    // added a checkpoint write + job — measured 1.18x at sf0.1 and
    // 1.09x at the 10x twin WITH the pin (same A/B class as the
    // triangleCount/assortativity deg-pin experiments, rejected
    // there too). Pin only what replays an EXPENSIVE unshared
    // upstream (und's dedup: multi-exchange edge build).
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("v0"))
      .groupBy(col("v0")).agg(count(lit(1)).as("_deg"))
    val mRow = deg.agg((sum(col("_deg")) / lit(2L)).cast("long").as("_m"))
    val nc = deg.join(communities.select(col(nodeCol).as("v0"),
      col(commCol).as("_comm")), "v0")
    val dc = nc.groupBy(col("_comm")).agg(sum(col("_deg")).as("d_c"))
    val ec = und
      .join(nc.select(col("v0").as("u"), col("_comm").as("_ca")), "u")
      .join(nc.select(col("v0").as("v"), col("_comm").as("_cb")), "v")
      .where(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("_comm"))
      .agg(count(lit(1)).as("e_c"))
    val ratio = col("d_c").cast("double") /
      (lit(2L) * col("_m")).cast("double")
    val out = dc.join(ec, Seq("_comm"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("_comm").as("community"),
        coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"),
        round(coalesce(col("e_c"), lit(0L)).cast("double") /
          col("_m").cast("double") - ratio * ratio, 9).as("q_c"))
    out
  }

  /** LOCAL CLUSTERING COEFFICIENT per node:
    * {{{ lcc(v) = triangles(v) / C(deg v, 2) }}}
    * — "how clique-like is each node's neighborhood", the per-node
    * refinement of [[triangleCount]] (whose degree-oriented wedge plan
    * does the heavy lifting: each triangle is generated exactly once
    * from its lowest-(deg, id) corner, so the join fan-out is bounded
    * by the ORIENTED out-degree, not the raw one). Degree-1 and
    * isolated-from-dedup nodes have no defined coefficient → NULL.
    *
    * Returns (id, deg, triangles, lcc r6).
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    // pinned (eager): the old persist/unpersist pair both ran at
    // CONSTRUCTION time — nothing had materialized the cache when the
    // unpersist removed it, so the canonical edge set silently
    // recomputed (dedup shuffle included) for every scan below. The
    // sf1 scale leg is what exposed the class (q223 measured 15x wall
    // for 10x data before the fix).
    val und = Components.pin(undirected(edges, srcCol, dstCol),
      reliable = false)
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val tri = triangleCountCanonical(und)
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          round((lit(2L) * coalesce(col("triangles"), lit(0L)))
            .cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6))
          .as("lcc"))
  }

  /** Degree ASSORTATIVITY: Pearson correlation of endpoint degrees
    * over the directed edge list (each undirected edge counted in both
    * directions — the standard Newman convention). Positive = hubs
    * link hubs (social-ish), negative = hubs link leaves (web-ish) —
    * the one-number structural fingerprint of a link graph.
    *
    * All five moment sums are INTEGER, accumulated in DECIMAL(38,0)
    * with products taken in DECIMAL (the spearmanByKey overflow
    * lesson); only the final correlation runs in floating point,
    * mirrored exactly by the oracle. Returns one row
    * (n_directed, assortativity r6) — NULL when degrees are constant.
    *
    * SCALE SHAPE — DEGREE-MOMENT ALGEBRA, never an edge⋈deg⋈deg double
    * join: over the directed edge list x and y are exchangeable (every
    * undirected edge appears both ways), so
    * {{{ n = Σ_v deg(v)      Σx = Σy  = Σ_v deg(v)²
    *     Σx² = Σy² = Σ_v deg(v)³
    *     Σxy = Σ_v deg(v)·s(v),  s(v) = Σ_{w∈N(v)} deg(w) }}}
    * — ONE adjacency⋈degree join + two map-side-combined aggregates,
    * with every DECIMAL product over the |V|-row node table instead of
    * the 2|E|-row pair table. The oracle computes the same integer
    * moments from the stated pair formulation (they are equal by the
    * identity above) and finishes with the identical double sequence,
    * so the hash still pins the semantics. The r14 sf1 scale leg
    * measured the pair formulation at 8-15x wall for 10x data; this
    * form is ~3x.
    */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    // pinned (eager) — see clusteringCoefficient: the construction-time
    // persist/unpersist pair was a no-op and the canonical edge set
    // recomputed for every scan below (first half of q223's sf1 flag)
    val und = Components.pin(undirected(edges, srcCol, dstCol),
      reliable = false)
    // both adjacency directions in ONE scan of the pinned edge set
    // (explode of the two orientations; was a two-scan union — r18)
    val nb = und.select(explode(array(
        struct(col("u").as("v0"), col("v").as("n")),
        struct(col("v").as("v0"), col("u").as("n")))).as("_d"))
      .select(col("_d.v0").as("v0"), col("_d.n").as("n"))
    val deg = nb.groupBy(col("v0")).agg(count(lit(1)).as("_deg"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    // s(v): the one join that must touch the adjacency — deg rides it
    val sTab = nb
      .join(deg.select(col("v0").as("n"), col("_deg").as("_dn")), "n")
      .groupBy(col("v0"))
      .agg(sum(dec(col("_dn"))).cast("decimal(38,0)").as("_s"))
    val agg = deg.join(sTab, "v0")
      .agg(sum(dec(col("_deg"))).as("_n"),
        sum((dec(col("_deg")) * dec(col("_deg")))
          .cast("decimal(38,0)")).as("_sx"),
        sum((dec(col("_deg")) * dec(col("_deg")) * dec(col("_deg")))
          .cast("decimal(38,0)")).as("_sxx"),
        sum((dec(col("_deg")) * col("_s")).cast("decimal(38,0)"))
          .as("_sxy"))
    def d(c: Column) = c.cast("double")
    val varX = d(col("_n")) * d(col("_sxx")) - d(col("_sx")) * d(col("_sx"))
    agg.select(
      coalesce(col("_n").cast("long"), lit(0L)).as("n_directed"),
      when(varX > 0,
        round((d(col("_n")) * d(col("_sxy")) -
          d(col("_sx")) * d(col("_sx"))) / varX, 6))
        .as("assortativity"))
  }
}
