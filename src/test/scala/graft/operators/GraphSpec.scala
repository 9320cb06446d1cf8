package graft.operators

import graft.SparkTestBase

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Double] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Double)].collect().toMap

  test("pageRank matches the hand-computed recurrence") {
    // 1→2, 2→3, 3→1, 1→3: outdeg(1)=2, N=3, uniform start 1/3
    val pr = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)), 1)
    assert(math.abs(pr(1L) - (0.05 + 0.85 / 3.0)) < 1e-12)
    assert(math.abs(pr(2L) - (0.05 + 0.85 / 6.0)) < 1e-12)
    assert(math.abs(pr(3L) - (0.05 + 0.85 * (1.0 / 6 + 1.0 / 3))) < 1e-12)
    assert(math.abs(pr.values.sum - 1.0) < 1e-12) // no sinks → conserved
  }

  test("pageRank: sink mass leaves; multi-edges collapse; ≥2 rounds run") {
    // sink node 2 absorbs then leaks mass; duplicate edge must not
    // double the contribution
    val pr = ranks(Seq((1L, 2L), (1L, 2L)), 2)
    assert(math.abs(pr(1L) - 0.075) < 1e-12) // (1-d)/N both rounds
    // round2: 0.075 + 0.85 * pr1(1) = 0.075 + 0.85 * 0.075
    assert(math.abs(pr(2L) - (0.075 + 0.85 * 0.075)) < 1e-12)
    assert(pr.values.sum < 1.0)
  }

  test("pageRank redistributeSinks: stochastic form conserves Σpr = 1") {
    // 1→2 with sink node 2. N=2, uniform start 1/2, dm₀ = 1/2.
    // r1: pr(1) = 0.075 + 0.85·(0 + 0.25)        = 0.2875
    //     pr(2) = 0.075 + 0.85·(0.5 + 0.25)      = 0.7125
    // r2: dm₁ = 0.7125
    //     pr(1) = 0.075 + 0.85·(0.35625)          = 0.3778125
    //     pr(2) = 0.075 + 0.85·(0.2875 + 0.35625) = 0.6221875
    val pr = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"),
        "src", "dst", 2, redistributeSinks = true)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr(1L) - 0.3778125) < 1e-12)
    assert(math.abs(pr(2L) - 0.6221875) < 1e-12)
    assert(math.abs(pr.values.sum - 1.0) < 1e-12)
  }

  test("pageRankWeighted: uniform weights reproduce unweighted pageRank") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val un = ranks(edges, 3)
    val wt = Graph.pageRankWeighted(
        edges.map { case (s, d) => (s, d, 7L) }.toDF("src", "dst", "w"),
        "src", "dst", "w", 3)
      .as[(Long, Double)].collect().toMap
    un.foreach { case (id, pr) => assert(math.abs(wt(id) - pr) < 1e-12) }
  }

  test("pageRank matches a brute-force recurrence on a random multigraph " +
       "(window-form outdeg == per-src edge count after dedup)") {
    // r18: outdeg moved from groupBy+join to count-over-window on the
    // persisted src partitioning; this pins the recurrence against an
    // in-memory reference on a graph with duplicate edges, hubs and
    // sinks, so any outdeg drift (pre- vs post-dedup counting, hub
    // splits) fails loudly rather than only on the tiny hand cases.
    val rnd = new scala.util.Random(181)
    val raw = (1 to 400).map { _ =>
      val s = rnd.nextInt(25).toLong
      val d = rnd.nextInt(40).toLong // ids 25-39 are frequent sinks
      (s, d)
    }.filter { case (s, d) => s != d }
    val edges = raw.distinct
    val nodes = edges.flatMap { case (s, d) => Seq(s, d) }.distinct
    val n = nodes.size.toDouble
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    // the stochastic form at 10 rounds also crosses several of its
    // periodic round pins
    for ((sinks, iters) <- Seq((false, 3), (true, 10))) {
      var pr = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val inmass = edges.groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s, _) => pr(s) / outdeg(s) }.sum
        }
        val dm = if (sinks) nodes.filterNot(outdeg.contains).map(pr).sum
                 else 0.0
        pr = nodes.map(v => v ->
          (0.15 / n + 0.85 * (inmass.getOrElse(v, 0.0) + dm / n))).toMap
      }
      val got = Graph.pageRank(raw.toDF("src", "dst"), "src", "dst", iters,
          redistributeSinks = sinks)
        .as[(Long, Double)].collect().toMap
      assert(got.keySet == pr.keySet)
      pr.foreach { case (v, x) =>
        assert(math.abs(got(v) - x) < 1e-9, s"sinks=$sinks node $v") }
    }
  }

  test("pageRankWeighted: rank splits by weight share, not edge count") {
    // 1→2 (w=3), 1→3 (w=1): node 2 gets 3/4 of 1's endorsement.
    // one round from uniform 1/3:
    //   pr(2) = 0.05 + 0.85·(1/3 · 3/4); pr(3) = 0.05 + 0.85·(1/3 · 1/4)
    val wt = Graph.pageRankWeighted(
        Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(wt(2L) - (0.05 + 0.85 / 4.0)) < 1e-12)
    assert(math.abs(wt(3L) - (0.05 + 0.85 / 12.0)) < 1e-12)
    // duplicate edges collapse by SUMMING weight, not dropping it
    val dup = Graph.pageRankWeighted(
        Seq((1L, 2L, 2L), (1L, 2L, 1L), (1L, 3L, 1L))
          .toDF("src", "dst", "w"),
        "src", "dst", "w", 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(dup(2L) - wt(2L)) < 1e-12)
  }

  test("labelPropagation: triangle collapses to the min label") {
    // r1: 1←min(2,3)=2 (tie), 2←1, 3←1; r2: everyone sees a 1 → all 1
    val labs = Graph.labelPropagation(
        Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst"),
        "src", "dst", 2)
      .as[(Long, Long)].collect().toMap
    assert(labs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("labelPropagation: synchronous rounds, min tie-break, undirected") {
    // path 1–2–3 fed with MIXED edge directions: round 1 must read ALL
    // round-0 labels at once (an async sweep would differ) and node 2's
    // {1,3} tie must break to 1
    val r1 = Graph.labelPropagation(
        Seq((2L, 1L), (2L, 3L)).toDF("src", "dst"), "src", "dst", 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("triangleCount: K4 corners count 3; pendant counts 0; duplicates collapse") {
    // K4 on {1,2,3,4} = 4 triangles, every corner in 3 of them; node 5
    // hangs off node 1; a reversed duplicate edge must not double-count
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L), (2L, 1L)).toDF("src", "dst")
    val got = Graph.triangleCount(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))
  }

  test("kCorePeel: cascade removes the whole path; triangle survives") {
    // path 1–2–3–4 at k=2: round 1 peels endpoints (deg 1), round 2
    // peels the now-degree-1 middle — the cascade IS the operator
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r1 = Graph.kCorePeel(path, "src", "dst", k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(2L -> 1L, 3L -> 1L))
    val r2 = Graph.kCorePeel(path, "src", "dst", k = 2, rounds = 2)
      .as[(Long, Long)].collect()
    assert(r2.isEmpty)
    // triangle + pendant at k=2: pendant peels, triangle is the 2-core
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 9L))
      .toDF("src", "dst")
    val core = Graph.kCorePeel(tri, "src", "dst", k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("bfsDistances: min hop distance on a path with a shortcut") {
    // path 1-2-3-4-5 plus shortcut 1-4: dist(4) must take the shortcut
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val d = Graph.bfsDistances(e, "src", "dst", seeds, "id", maxHops = 4)
      .as[(Long, Int)].collect().toMap
    assert(d == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
  }

  test("bfsDistances: maxHops truncates; unreached nodes absent") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val d = Graph.bfsDistances(e, "src", "dst", Seq(1L).toDF("id"),
        "id", maxHops = 2)
      .as[(Long, Int)].collect().toMap
    // node 4 is 3 hops away → absent; the 10-11 component is unreached
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("bfsDistances: multi-source minimum; isolated seed kept at 0") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val d = Graph.bfsDistances(e, "src", "dst",
        Seq(1L, 4L, 99L).toDF("id"), "id", maxHops = 3)
      .as[(Long, Int)].collect().toMap
    // 2 and 3 are 1 hop from each end; 99 has no edges but is a seed
    assert(d == Map(1L -> 0, 4L -> 0, 99L -> 0, 2L -> 1, 3L -> 1))
  }

  test("bfsDistances: directed mode follows edge direction only") {
    val e = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val d = Graph.bfsDistances(e, "src", "dst", Seq(1L).toDF("id"),
        "id", maxHops = 2, undirected = false)
      .as[(Long, Int)].collect().toMap
    assert(d == Map(1L -> 0, 2L -> 1)) // 3 only reachable backwards
  }

  test("round-protocol plan contract: O(iterations) plans over pinned " +
       "bases") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // ONE lazy plan per operator, depth at most LINEAR in the fixed
    // iteration count — bounded by the API contract — whose only leaves
    // are pinned LogicalRDDs (base tables, or rounds the operator pins
    // because they are read twice), so no unpinned upstream subtree is
    // ever re-executed per round
    val iters = 10
    val sink = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val ops: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> Graph.pageRank(edges, "src", "dst", iters),
      "pageRank redistributeSinks" -> Graph.pageRank(sink, "src", "dst",
        iters, redistributeSinks = true),
      "pageRankWeighted" -> Graph.pageRankWeighted(
        sink.withColumn("w", org.apache.spark.sql.functions.lit(2L)),
        "src", "dst", "w", iters),
      "personalizedPageRank" -> Graph.personalizedPageRank(sink, "src",
        "dst", Seq(1L).toDF("id"), "id", iters),
      "hits" -> Graph.hits(sink, "src", "dst", iters),
      "labelPropagation" -> Graph.labelPropagation(sink, "src", "dst",
        iters))
    ops.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val lines = plan.toString.linesIterator.size
      assert(lines < 12 * iters + 20, // ~linear budget: <12 lines/round
        s"$name: plan grew superlinearly in rounds ($lines lines)")
      assert(plan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
        s"$name: every leaf must be a pinned table (LogicalRDD)")
    }
    val pr10 = ops.head._2
    val lines = pr10.queryExecution.optimizedPlan.toString.linesIterator.size
    assert(lines > iters, s"expected a lazy multi-round plan ($lines lines)")
    // symmetric cycle stays uniform at 1/3 forever
    pr10.as[(Long, Double)].collect().toMap.values
      .foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("hits matches the hand-computed L1-normalized recurrence") {
    // 1→3, 2→3, 3→4: h0 = 1 each.
    // a1 raw: a(3)=h(1)+h(2)=2, a(4)=h(3)=1 → L1 a1 = (0,0,2/3,1/3)
    // h1 raw: h(1)=a(3)=2/3, h(2)=2/3, h(3)=a(4)=1/3
    //   → L1 h1 = (2/5, 2/5, 1/5, 0)
    val out = Graph.hits(
        Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst"),
        "src", "dst", iterations = 1)
      .as[(Long, Double, Double)].collect()
      .map { case (id, h, a) => id -> (h, a) }.toMap
    assert(math.abs(out(1L)._1 - 0.4) < 1e-12)
    assert(math.abs(out(2L)._1 - 0.4) < 1e-12)
    assert(math.abs(out(3L)._1 - 0.2) < 1e-12)
    assert(math.abs(out(4L)._1 - 0.0) < 1e-12) // no out-edges → hub 0
    assert(math.abs(out(3L)._2 - 2.0 / 3) < 1e-12)
    assert(math.abs(out(4L)._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(out(1L)._2 - 0.0) < 1e-12) // no in-edges → auth 0
    // both score vectors L1-normalize to 1 every round
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("personalizedPageRank: restart mass returns to the seed only") {
    // 1→2, 2→3, 3→1 cycle; seed {1}. s = (1,0,0).
    // p0 = (1,0,0)
    // p1: ppr(1)=0.15·1 + 0.85·p0(3)=0.15; ppr(2)=0.85·1=0.85; ppr(3)=0
    // p2: ppr(1)=0.15;   ppr(2)=0.85·0.15=0.1275; ppr(3)=0.85·0.85=0.7225
    val ppr = Graph.personalizedPageRank(
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"),
        "src", "dst", Seq(Tuple1(1L)).toDF("seed"), "seed",
        iterations = 2)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(ppr(1L) - 0.15) < 1e-12)
    assert(math.abs(ppr(2L) - 0.1275) < 1e-12)
    assert(math.abs(ppr(3L) - 0.7225) < 1e-12)
    // no sinks + restart-to-seed ⇒ total mass conserved at 1
    assert(math.abs(ppr.values.sum - 1.0) < 1e-12)
    // a seed that is not a graph node contributes nothing
    val two = Graph.personalizedPageRank(
        Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
        "src", "dst", Seq(1L, 99L).toDF("seed"), "seed", 1)
      .as[(Long, Double)].collect().toMap
    // |S ∩ V| = 1 ⇒ s(1) = 1: ppr(1) = 0.15, ppr(2) = 0.85
    assert(math.abs(two(1L) - 0.15) < 1e-12)
    assert(math.abs(two(2L) - 0.85) < 1e-12)
  }

  test("personalizedPageRank with every node a seed equals pageRank") {
    // s(v) = 1/N everywhere makes the restart uniform: the two forms
    // differ only in rounding ((1-d)·(1/N) against (1-d)/N)
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L),
      (3L, 4L), (5L, 4L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, "src", "dst", 5)
      .as[(Long, Double)].collect().toMap
    val ppr = Graph.personalizedPageRank(edges, "src", "dst",
        (1L to 5L).toDF("seed"), "seed", 5)
      .as[(Long, Double)].collect().toMap
    assert(ppr.keySet == pr.keySet && pr.size == 5)
    pr.foreach { case (v, x) =>
      assert(math.abs(ppr(v) - x) < 1e-12, s"node $v") }
  }

  test("personalizedPageRank: no seed in the graph fails by name") {
    val err = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(Seq((1L, 2L)).toDF("src", "dst"),
        "src", "dst", Seq(7L, 8L).toDF("seed"), "seed", 2)
    }
    assert(err.getMessage.contains("no seed is a graph node"))
  }

  test("adamicAdar: path scores the missing link, adjacents excluded") {
    // path 1–2–3 plus triangle 4–5, 5–6, 4–6:
    //  (1,3) share neighbor 2 (deg 2) → aa = 1/ln 2, NOT adjacent ✓
    //  triangle pairs all adjacent → excluded entirely
    val out = Graph.adamicAdar(
        Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
          .toDF("src", "dst"), "src", "dst", maxDegree = 30)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length == 1)
    val (a, b, common, aa) = out.head
    assert((a, b, common) == (1L, 3L, 1L))
    assert(math.abs(aa - 1.0 / math.log(2)) < 1e-12)
  }

  test("adamicAdar: maxDegree drops wedges through hubs, keeps true deg") {
    // star center 10 connects 1..4 (deg 4); 1–2 also direct.
    // maxDegree=3 excludes the center → no wedges at all survive.
    val star = (1L to 4L).map(i => (10L, i)) :+ ((1L, 2L))
    val none = Graph.adamicAdar(star.toDF("src", "dst"),
      "src", "dst", maxDegree = 3)
    assert(none.count() == 0)
    // with the center allowed, (3,4) scores 1/ln(4) — deg is the TRUE
    // degree even though nodes 1..4 have degree ≤ 2
    val out = Graph.adamicAdar(star.toDF("src", "dst"),
        "src", "dst", maxDegree = 30)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(math.abs(out((3L, 4L)) - 1.0 / math.log(4)) < 1e-12)
    // (1,2) is adjacent → absent despite sharing the center
    assert(!out.contains((1L, 2L)))
  }

  test("modularity: two triangles + bridge, triangle communities") {
    // m = 7; each triangle: e_c = 3, d_c = 7 (2+2+3)
    // Q_c = 3/7 − (7/14)² = 0.428571429 − 0.25 = 0.178571429
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 6L)).toDF("a", "b")
    val comm = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B")).toDF("node", "c")
    val got = Graph.modularity(edges, "a", "b", comm, "node", "c")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got("A") == ((3L, 7L, 0.178571429)))
    assert(got("B") == ((3L, 7L, 0.178571429)))
  }

  test("modularity: a community with zero internal edges still rows, " +
       "and duplicate/self edges are absorbed") {
    // star 1-2, 1-3 with 2,3 in their own communities; self-loop and
    // a duplicate edge must not change m
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 3L))
      .toDF("a", "b")
    val comm = Seq((1L, "hub"), (2L, "leafA"), (3L, "leafB"))
      .toDF("node", "c")
    val got = Graph.modularity(edges, "a", "b", comm, "node", "c")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // m = 2; hub: e_c=0, d_c=2, Q = 0 − (2/4)² = −0.25
    assert(got("hub") == ((0L, 2L, -0.25)))
    assert(got("leafA") == ((0L, 1L, -0.0625)))
    assert(got.keySet == Set("hub", "leafA", "leafB"))
  }

  test("clusteringCoefficient: kite graph hand case") {
    // triangle 1-2-3 plus pendant 4 on node 3 and edge 3-5,
    // 4-5 closing a second triangle (3,4,5):
    //   deg: 1:2, 2:2, 3:4, 4:2, 5:2
    //   triangles: 1:1, 2:1, 3:2, 4:1, 5:1
    //   lcc: 1,2,4,5 -> 1.0; 3 -> 2/(4·3/2) = 0.333333
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (3L, 5L), (4L, 5L)).toDF("a", "b")
    val got = Graph.clusteringCoefficient(edges, "a", "b")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((4L, 2L, 0.333333)))
    assert(got(5L) == ((2L, 1L, 1.0)))
  }

  test("clusteringCoefficient: degree-1 node has NULL lcc, not 0") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val rows = Graph.clusteringCoefficient(edges, "a", "b")
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(3), "pendant node undefined")
    assert(!rows(1).isNullAt(3) && rows(1).getDouble(3) == 0.0,
      "open wedge center is a real 0")
  }

  test("assortativity: path graph is -1, regular graph is NULL") {
    // path a-b-c: endpoint degrees anti-correlate exactly
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Graph.assortativity(path, "a", "b")
      .select("assortativity").as[Double].head()
    assert(r == -1.0)
    // triangle: all degrees 2 -> zero variance -> NULL
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val row = Graph.assortativity(tri, "a", "b").collect().head
    assert(row.getLong(0) == 6L)
    assert(row.isNullAt(1))
  }
}
