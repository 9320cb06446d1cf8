package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  /** `connectedComponents`' above-threshold branch (star contraction)
    * for the tests that exist to exercise IT — small test graphs would
    * otherwise all take the driver union-find fast path.
    */
  private def distributed(edges: org.apache.spark.sql.DataFrame,
                          reliable: Boolean = false) =
    Components.connectedComponents(edges, "a", "b", reliable,
      localMaxEdges = 0L)

  /** Reference union-find, for property-testing the distributed answer. */
  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain, clique, and singleton-free edge graph converge to min id") {
    // chain 1-2-3-4, clique {10,11,12}, pair {20,21}
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("a", "b")
    val got = Components.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("self-loops and duplicate edges are absorbed") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)).toDF("a", "b")
    val got = Components.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("random graphs match union-find (seeded property)") {
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 8) {
      val es = Seq.fill(30)((rnd.nextLong(20), rnd.nextLong(20)))
      val got = distributed(es.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == bruteComponents(es))
    }
  }

  test("superseded rounds' local-checkpoint blocks are released eagerly") {
    // a 120-node chain takes 8 star-contraction rounds: 11 pins with
    // the input, node-set and seed-edge pins, of which the result reads
    // 2. Without the explicit releasePin calls every round's blocks
    // stay registered until the ContextCleaner GCs the dead frames
    // (which a short test never triggers), so the delta would be 11.
    // Suites share the session, so the bound is generous to concurrent
    // suites' own persists — but far below the no-release footprint.
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (0L until 119L).map(i => (i, i + 1)).toDF("a", "b")
    val got = distributed(chain).as[(Long, Long)].collect()
    assert(got.length == 120 && got.forall(_._2 == 0L))
    val delta = spark.sparkContext.getPersistentRDDs.size - before
    assert(delta <= 8, s"expected released rounds, $delta RDDs still cached")
  }

  test("releasing a pin frees its blocks and logs no WARN") {
    def pinned() = Components.pin(
      spark.range(100).toDF("a"), reliable = false)
    def rdds(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
    val released = pinned()
    val ids = rdds(released).map(_.id)
    assert(ids.nonEmpty &&
      ids.forall(spark.sparkContext.getPersistentRDDs.contains))
    val warns = warnsDuring(
      Components.releasePin(released, reliable = false, blocking = true))
    assert(warns.isEmpty, s"release logged: $warns")
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains))
    // unpersisted as RDD.unpersist leaves it, checkpoint state restored
    assert(rdds(released).forall(r => r.isCheckpointed &&
      r.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE))
    // the control: RDD.unpersist on the same kind of pin does warn, so
    // the capture sees Spark's lineage-truncated WARN when it happens
    val control = pinned()
    val controlWarns = warnsDuring(
      control.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = true)
        case _ => ()
      })
    assert(controlWarns.exists(_.contains("locally checkpointed")),
      s"capture saw: $controlWarns")
  }

  test("duplicateClusters keeps singletons and sizes the classes") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Components.duplicateClusters(docs, pairs, "doc_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 4L, 1L), (5L, 5L, 1L)))
    // keep-one-per-class = id === component
    assert(got.filter(r => r._1 == r._2).map(_._1).toSeq == Seq(1L, 4L, 5L))
  }

  test("logical plan stays O(1) across propagation rounds") {
    // diameter-4 path: several contraction rounds. Round 4's OOM root
    // cause was the plan tree growing several-fold per round (persist()
    // truncates execution, not the analyzed plan); the eager
    // localCheckpoint pins it to a LogicalRDD, so the returned frame's
    // plan must be round-count-independent and tiny.
    val chain = (0L until 5L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a", "b")
    val out = distributed(chain)
    val planNodes = out.queryExecution.analyzed.collect { case p => p }.size
    assert(planNodes <= 10, s"plan grew with rounds: $planNodes nodes")
    assert(out.as[(Long, Long)].collect().toMap ==
      (0L until 5L).map(_ -> 0L).toMap)
  }

  test("star contraction converges on a 10k-node path graph") {
    // diameter 9,999 — label propagation would take 10k rounds; the
    // alternating large-star/small-star loop must do it in O(log n)
    val n = 10000L
    val chain = (0L until n).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a", "b")
    val got = Components.starContraction(chain, "a", "b")
      .as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 0L))
  }

  test("star contraction matches union-find on random graphs") {
    val rnd = new scala.util.Random(47)
    for (_ <- 1 to 5) {
      val es = Seq.fill(40)((rnd.nextLong(25), rnd.nextLong(25)))
      val got = Components.starContraction(es.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == bruteComponents(es))
    }
  }

  test("reliable checkpoint mode: correct labels through checkpoint(dir)") {
    withTempDir("graft_ckpt") { dir =>
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L),
        (10L, 11L), (11L, 12L), (21L, 20L)).toDF("a", "b")
      val got = distributed(edges, reliable = true)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
      // the rounds really went through the reliable store: the
      // checkpoint dir is non-empty after the run
      assert(dir.listFiles != null && dir.listFiles.nonEmpty,
        "reliable mode must write to the checkpoint directory")
    }
  }

  test("reliable mode without a checkpoint dir fails fast, not mid-job") {
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    // simulate a fresh context with no dir configured
    sc.setCheckpointDir(null)
    try {
      val edges = Seq((1L, 2L)).toDF("a", "b")
      val e = intercept[IllegalArgumentException] {
        Components.connectedComponents(edges, "a", "b", reliable = true)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    } finally saved.foreach(sc.setCheckpointDir)
  }

  test("reliable-path stress: chain+random graph at scale through checkpoint(dir)") {
    // the cluster-survivability path (localCheckpoint dies with an
    // executor; reliable checkpoint survives) exercised at a size where
    // plan growth or recomputation would blow up: 100k nodes chained
    // (diameter 99,999) + 25k random extra edges.
    // The 2M-node variant of this graph runs in ~81 s via
    // localCheckpoint (NOTES.md); this spec drives every round through
    // the reliable store at a CI-sized fraction of that.
    withTempDir("graft_ckpt_stress") { dir =>
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val n = 100000L
      val rnd = new scala.util.Random(7)
      val chain = spark.range(n - 1).select($"id".as("a"), ($"id" + 1).as("b"))
      val extra = Seq.fill(25000)((rnd.nextLong(n), rnd.nextLong(n)))
        .toDF("a", "b")
      val labels = distributed(chain.union(extra), reliable = true)
      // the chain connects everything: every node labels to 0
      val agg = labels.agg(count(lit(1)), countDistinct($"component"),
        min($"component")).head()
      assert(agg.getLong(0) == n)
      assert(agg.getLong(1) == 1L && agg.getLong(2) == 0L)
    }
  }

  test("driver union-find fast path agrees with the distributed path") {
    // same seeded graphs through both routes — the default threshold
    // takes the local path (tiny graphs), a zero threshold star
    // contraction
    val rnd = new scala.util.Random(83)
    for (_ <- 1 to 6) {
      val es = Seq.fill(50)((rnd.nextLong(30), rnd.nextLong(30)))
      val local = Components.connectedComponents(es.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      val dist = distributed(es.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(local == dist)
      assert(local == bruteComponents(es))
    }
  }

  test("localMaxEdges boundary: both sides of the threshold are correct") {
    val es = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 7L),
      (8L, 9L), (9L, 10L), (10L, 8L))
    val want = bruteComponents(es)
    val star = Components.starContraction(es.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    for (thr <- Seq(6L, 7L)) { // 7 edge rows: above and at threshold
      val got = Components.connectedComponents(es.toDF("a", "b"), "a", "b",
          reliable = false, localMaxEdges = thr)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"threshold=$thr")
      // above the threshold the labels are star contraction's
      if (thr < es.length) assert(got == star, s"threshold=$thr")
    }
  }

  test("defaultLocalMaxEdges is heap-derived with hard clamps") {
    // 1/8 of heap at 184 B/edge, clamped to [65536, 4M]: a small-driver
    // deployment must get a proportionally smaller local path instead
    // of the OOM the flat 4M constant allowed.
    val gib = 1L << 30
    assert(Components.defaultLocalMaxEdgesFor(8 * gib) == 4000000L) // clamp hi
    assert(Components.defaultLocalMaxEdgesFor(64 * (1L << 20)) == 65536L) // clamp lo
    val oneGib = Components.defaultLocalMaxEdgesFor(gib)
    assert(oneGib == (gib / 8) / 184)
    assert(oneGib > 65536L && oneGib < 4000000L)
    // monotone in heap size
    assert(Components.defaultLocalMaxEdgesFor(2 * gib) >= oneGib)
    // the live default uses the real runtime heap and stays in-clamp
    val d = Components.defaultLocalMaxEdges
    assert(d >= 65536L && d <= 4000000L)
  }

  test("non-integral id types always take the distributed path") {
    // driver-side string ordering (UTF-16) and Spark's (UTF-8 binary)
    // disagree on non-ASCII; the gate keeps string graphs distributed
    val es = Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("a", "b")
    val got = Components.connectedComponents(es, "a", "b")
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("star contraction round guard still trips when exhausted") {
    val chain = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Components.starContraction(chain, "a", "b", maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }
}
