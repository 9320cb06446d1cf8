package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the dedup
  * endgame: pair emitters ([[NearDup.jaccardPairs]], minhash/simhash/
  * winnow candidates) find EDGES, but the curation decision ("keep one
  * doc per duplicate class") needs the transitive closure, because near-
  * duplication chains (A≈B, B≈C, A̸≈C ⇒ {A,B,C} is one class). The
  * reference's MarkDuplicates analog collapses exact-key groups only
  * (program/src/main/scala/hmushtaq/sparkga1/SparkGA1.scala:822-851);
  * this generalizes to the graph closure.
  *
  * Two strategies, selected by graph size:
  *
  *  0. '''Driver union-find''' — up to [[defaultLocalMaxEdges]] edge rows
  *     (heap-derived: 1/8 of driver maxMemory at the 184 B/edge worst
  *     case, clamped to [65 536, 4 M] — broadcast-scale on an 8 GB
  *     driver, proportionally lower on a small one), the edge list is
  *     collected and closed with path-halving union-find in
  *     microseconds; a distributed round costs ~0.5 s of fixed
  *     shuffle/checkpoint machinery regardless of volume, so on the
  *     sparse pair graphs dedup actually emits the machinery dwarfs
  *     the work (same logic as AQE's broadcast threshold). Integral id
  *     types only — see [[localUnionFind]].
  *  1. '''Alternating large-star / small-star contraction''' (Kiveris et
  *     al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
  *     everything else: O(log n) rounds regardless of diameter, so
  *     clique-shaped dedup graphs and chain-shaped ones (low-threshold
  *     pair lists, road-network-like graphs) take the same path. It
  *     replaced hash-min label propagation (rounds = diameter) plus a
  *     hand-off to contraction, because contraction alone was faster on
  *     every graph above the 65 536-edge floor (medians at local[4] on
  *     a 4-vCPU host: q73's 10× pair graph 3.5 s vs 6.3 s, q179's 6.9 s
  *     vs 10.2 s, sf0.1 co-order part pairs 3.1 s vs 5.9 s).
  *
  * LINEAGE: each round's frame is pinned with an EAGER
  * `localCheckpoint`, which both materializes it (so the fixpoint
  * probe never recomputes through earlier rounds) and replaces its
  * logical plan with a `LogicalRDD` over the cached partitions. A plain
  * `persist()` would NOT do the second half: it short-circuits
  * execution but leaves the analyzed plan growing several-fold per
  * round (the round's joins and the probe each re-reference the
  * previous round), and plan copy/stringification under AQE goes
  * exponential — the round-4 sf0.1 OOM. With the checkpoint the plan is
  * O(1) per round; superseded rounds' cached blocks are released by the
  * ContextCleaner as the frames become unreachable.
  *
  * FAULT TOLERANCE: `localCheckpoint` stores blocks UNREPLICATED on
  * executors with lineage truncated — correct and fast in local mode
  * (one JVM, nothing to lose), but on a real multi-node cluster an
  * executor loss mid-closure makes the computation unrecoverable (the
  * truncated lineage cannot recompute the lost blocks). Both operators
  * therefore take `reliable = true`, which pins rounds with a RELIABLE
  * `checkpoint()` to the context's checkpoint directory instead
  * (`spark.sparkContext.setCheckpointDir` — HDFS/object storage on a
  * cluster): same O(1)-plan property, survives executor loss, costs one
  * write+read of each round's frame. This is the analog of the
  * reference's materialize-between-parts protocol (`runAll.py:37-44`,
  * each part a separate application with HDFS output between). Default
  * remains local (the test/bench path); a 100 TB closure job should
  * pass `reliable = true`.
  *
  * CHECKPOINT LIFETIME: superseded rounds' reliable checkpoint files
  * are deleted by the ContextCleaner as their frames become
  * unreachable — PROVIDED `spark.cleaner.referenceTracking
  * .cleanCheckpoints` is true (a GraftSession default; Spark's own
  * default leaves every round's files on disk forever). Files from
  * the final frames live until the application exits; point the
  * checkpoint dir at job-scoped storage and remove it with the job.
  */
object Components {

  /** Per-round closure diagnostics on stderr (`[graft.closure] …`):
    * algorithm, round number, the edge count the round already
    * computed, and wall millis. Costs nothing beyond the counts the
    * convergence logic already takes — the point is that a drifting bench number can be
    * attributed to "more rounds" vs "same rounds, slower rounds" from
    * the log alone.
    */
  private def logRound(msg: String): Unit =
    System.err.println(s"[graft.closure] $msg")

  /** Plan-shape diagnostics for pinned intermediates: a pin EXECUTES its
    * frame's plan at operator-construction time, so the result frame's
    * `.explain` shows only a `Scan ExistingRDD` where the reused
    * intermediate's aggregation/derivation shape used to be. PlanSpec's
    * scale assertions for those shapes (q91 signature kernel, q144
    * partial counts, q149 sketch aggregate) go through this capture:
    * thread-local (operator construction is driver-side on the calling
    * thread), so concurrently-running suites cannot pollute a capture,
    * and zero-cost when no capture is active (by-name plan string).
    */
  private[graft] object PinPlanCapture {
    private val tl =
      new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]]()
    /** Begin capturing pin plans on THIS thread (drops any prior). */
    private[graft] def start(): Unit =
      tl.set(scala.collection.mutable.ArrayBuffer.empty[String])
    /** Stop capturing and return the pinned frames' executed plans. */
    private[graft] def stop(): Seq[String] = {
      val b = tl.get(); tl.remove()
      if (b == null) Seq.empty else b.toSeq
    }
    private[operators] def record(plan: => String): Unit = {
      val b = tl.get(); if (b != null) b += plan
    }
  }

  /** Eager checkpoint: materialize AND truncate lineage — the returned
    * frame's logical plan is a single `LogicalRDD`, so iterative reuse
    * can't grow the plan tree (see class doc). `reliable` swaps the
    * executor-local block store for the context checkpoint directory
    * (must be set; survives executor loss).
    */
  private[graft] def pin(df: DataFrame, reliable: Boolean): DataFrame = {
    PinPlanCapture.record(df.queryExecution.executedPlan.toString)
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable=true needs spark.sparkContext.setCheckpointDir(...)")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }

  /** Free a superseded round's local-checkpoint blocks NOW rather than
    * when the ContextCleaner notices the frame is unreachable (JVM GC
    * cadence — a long contraction otherwise holds many dead rounds'
    * blocks at once). ONLY for frames nothing references anymore: the
    * truncated lineage cannot recompute freed blocks. Reliable-mode
    * rounds hold checkpoint FILES, not executor blocks — those stay
    * with the ContextCleaner (`cleanCheckpoints`, class doc), so this
    * is a no-op for them. Quietly: a plain `RDD.unpersist` logs a
    * lineage-truncated WARN for every released round.
    */
  private[graft] def releasePin(df: DataFrame, reliable: Boolean,
                                blocking: Boolean = false): Unit =
    if (!reliable) df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.GraftCoreBridge.unpersistQuietly(lr.rdd, blocking)
      case _ => ()
    }

  /** Minimal open-addressing Long→Long map (linear probing, power-of-2
    * capacity, SplitMix64 finalizer so sequential ids don't cluster).
    * `java.util.HashMap[Long,Long]` boxes every key/value and holds a
    * Node object per entry (~60 B/entry + two boxed longs); this is two
    * flat long arrays + a byte of occupancy = 17 B/slot at ≤0.5 load,
    * so the driver heap matches the documented "MBs of longs" bound
    * instead of exceeding it 10-20×.
    */
  private final class LongLongMap(expectedKeys: Int) {
    private var cap = {
      var c = 16
      while (c < expectedKeys.toLong * 2 && c < (1 << 30)) c <<= 1
      c
    }
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0
    private def slot(k: Long): Int = {
      var h = k * -7046029254386353131L // SplitMix64 mix constant
      h ^= (h >>> 32)
      var i = (h & mask).toInt
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      i
    }
    def size: Int = n
    def contains(k: Long): Boolean = used(slot(k))
    /** Caller guarantees the key is present (union-find invariant). */
    def apply(k: Long): Long = vals(slot(k))
    def put(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!used(i)) {
        used(i) = true; keys(i) = k; n += 1
        vals(i) = v
        if (n.toLong * 2 > cap) grow()
      } else vals(i) = v
    }
    private def grow(): Unit = {
      // cap is a power of two; at 1<<30 another doubling overflows Int
      // to a negative, making `mask` negative and corrupting slot
      // indexing. Unreachable under the edge clamp (4 M edges have at
      // most 8 M distinct ids, far below 2^29) — fail loudly instead of
      // silently corrupting the map should that bound ever move.
      require(cap < (1 << 30),
        s"local union-find node map exceeded ${1 << 29} keys — too many " +
        "distinct node ids for the driver-local path; its edge cap " +
        "(defaultLocalMaxEdgesFor) must route graphs this large to " +
        "starContraction")
      val ok = keys; val ov = vals; val ou = used; val oc = cap
      cap <<= 1; mask = cap - 1; n = 0
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      used = new Array[Boolean](cap)
      var i = 0
      while (i < oc) { if (ou(i)) put(ok(i), ov(i)); i += 1 }
    }
    /** (key, value) pairs interleaved into chunked primitive arrays —
      * the hand-off shape for parallelize without re-boxing on the
      * driver.
      */
    def interleavedChunks(chunkPairs: Int,
                          value: Long => Long): Seq[Array[Long]] = {
      val out = Seq.newBuilder[Array[Long]]
      var buf = new Array[Long](math.min(n, chunkPairs) * 2)
      var j = 0
      var i = 0
      while (i < cap) {
        if (used(i)) {
          if (j == buf.length) { out += buf; buf = new Array[Long](
            math.min(chunkPairs, n) * 2); j = 0 }
          buf(j) = keys(i); buf(j + 1) = value(keys(i)); j += 2
        }
        i += 1
      }
      if (j > 0) out += java.util.Arrays.copyOf(buf, j)
      out.result()
    }
  }

  /** Worst-case driver bytes per collected edge on the local path:
    * 16 B for the interleaved (s,d) chunk, < 136 B for the label map
    * (≤ 2 keys/edge × 17 B/slot at the ≤ 0.5-load power-of-two worst
    * case of cap < 4·keys), plus ≤ 32 B for the interleaved label
    * hand-off chunks. Deliberately conservative — the documented
    * typical footprint is ~87 B/edge.
    */
  private[operators] val localBytesPerEdgeWorstCase = 184L

  /** Default edge cap for the driver-local union-find path, derived
    * from the driver's actual heap instead of a constant: a 512 MB
    * driver must not OOM on a graph the 8 GB default was sized for.
    * Budget = 1/8 of `Runtime.maxMemory` at the worst-case bytes/edge,
    * clamped to [65 536, 4 000 000] — the upper clamp keeps the
    * local-vs-distributed crossover where it was measured (the
    * distributed path's fixed ~0.5 s/round already wins above a few
    * million edges regardless of driver headroom).
    */
  private[operators] def defaultLocalMaxEdgesFor(maxHeapBytes: Long): Long =
    ((maxHeapBytes / 8) / localBytesPerEdgeWorstCase)
      .max(65536L).min(4000000L)

  private[operators] def defaultLocalMaxEdges: Long =
    defaultLocalMaxEdgesFor(Runtime.getRuntime.maxMemory)

  /** Driver union-find over a collected edge list — the small-graph fast
    * path. A closure round on the distributed path costs a join + an
    * aggregate + a checkpoint of FIXED shuffle machinery (~0.5 s on
    * local[32]) regardless of data volume; on the pair graphs dedup
    * actually produces (banded candidates over a corpus — sparse by
    * construction, vastly smaller than the corpus itself) several rounds
    * of that machinery dwarf the work. Same reasoning as AQE's broadcast
    * threshold: up to [[defaultLocalMaxEdges]] directed rows
    * (heap-derived via [[defaultLocalMaxEdgesFor]], ≤ 4 M — a
    * size Spark happily broadcasts), collect the edges
    * as flat primitive long chunks, run path-halving union-find with
    * min-id roots over a primitive open-addressing map, and return the
    * labels as a parallelized (not LocalRelation — keeps plans small)
    * distributed frame. Driver heap is genuinely flat: 16 B/edge for
    * the collected chunks + ~17 B/slot for the label map (≤0.5 load) —
    * ≈ 350 MB worst case at the 4 M default, no boxed rows or boxed
    * map entries anywhere (a Row-level collect + java HashMap was
    * 10-20× that). Above the threshold, or for
    * non-integral id types (driver min-ordering for strings is UTF-16,
    * Spark's is UTF-8 binary — not identical), [[starContraction]]
    * runs instead.
    */
  private def localUnionFind(e0: DataFrame,
                             idType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val spark = e0.sparkSession
    // Collect as per-partition primitive long chunks (interleaved s,d):
    // a row-level collect() holds one GenericRow + two boxed Longs per
    // edge (~10-20× the 16 B the edge needs); the chunked collect holds
    // exactly 16 B/edge flat.
    val chunks: Array[Array[Long]] = e0
      .select(col("s").cast(LongType), col("d").cast(LongType))
      .rdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        while (it.hasNext) { val r = it.next(); b += r.getLong(0); b += r.getLong(1) }
        val a = b.result()
        if (a.isEmpty) Iterator.empty else Iterator.single(a)
      }.collect()
    val nEdges = chunks.iterator.map(_.length / 2).sum
    val parent = new LongLongMap(math.min(nEdges.toLong * 2, Int.MaxValue / 4).toInt)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent(x)
      while (p != x) { // path halving
        val gp = parent(p)
        parent.put(x, gp)
        x = gp
        p = parent(x)
      }
      x
    }
    chunks.foreach { ch =>
      var i = 0
      while (i < ch.length) {
        val a = ch(i); val b = ch(i + 1)
        if (!parent.contains(a)) parent.put(a, a)
        if (!parent.contains(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        // always root at the smaller id → final root IS the component min
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
        i += 2
      }
    }
    // Hand the labels off as primitive interleaved (id, root) chunks and
    // box into Rows ON EXECUTORS, one partition per chunk — the driver
    // never materializes n boxed Rows.
    val labelChunks = parent.interleavedChunks(500000, find)
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("component", LongType, nullable = false)))
    val rowRdd = spark.sparkContext
      .parallelize(labelChunks, math.max(1, labelChunks.length))
      .flatMap { ch =>
        Iterator.range(0, ch.length, 2).map(i => Row(ch(i), ch(i + 1)))
      }
    spark.createDataFrame(rowRdd, schema)
      .select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
  }

  /** (id, component) for every node appearing in `edges`, where
    * `component` is the smallest node id reachable over the undirected
    * edge list. Ids must be non-null; self-loops and duplicate edges are
    * harmless. Graphs up to [[defaultLocalMaxEdges]] edge rows with
    * integral ids close on the driver ([[localUnionFind]]); the rest run
    * [[starContraction]].
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          reliable: Boolean = false): DataFrame =
    connectedComponents(edges, aCol, bCol, reliable, defaultLocalMaxEdges)

  /** [[connectedComponents]] with an explicit driver-path edge cap —
    * `localMaxEdges = 0` sends every non-empty graph to
    * [[starContraction]].
    */
  private[operators] def connectedComponents(edges: DataFrame,
                                             aCol: String, bCol: String,
                                             reliable: Boolean,
                                             localMaxEdges: Long)
      : DataFrame = {
    val t0 = System.nanoTime()
    // Materialize the pair list ONCE before anything references it
    // twice: the emitters upstream (inverted-index joins, LSH banding)
    // are the expensive part of a closure call, and star contraction's
    // node set and canonical edge set would otherwise each re-evaluate
    // the un-cached emitter plan (Spark shares no subexpressions across
    // them — 2× the emitter cost).
    val e0 = pin(edges.select(col(aCol).as("s"), col(bCol).as("d")),
      reliable)
    val m = e0.count()
    val idType = e0.schema("s").dataType
    val out =
      if (m <= localMaxEdges &&
          (idType == org.apache.spark.sql.types.LongType ||
           idType == org.apache.spark.sql.types.IntegerType)) {
        val labels = localUnionFind(e0, idType)
        logRound(f"local union-find: edges=$m " +
          f"${(System.nanoTime() - t0) / 1e6}%.0f ms")
        labels
      } else starContraction(e0, "s", "d", reliable = reliable)
    // neither result reads e0 (union-find hands back driver labels,
    // contraction eagerly pins its own frames), so e0 is dead
    releasePin(e0, reliable)
    out
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., SoCC 2014) — O(log n) rounds
    * independent of graph diameter: [[connectedComponents]]' path for
    * every graph above the driver union-find cap.
    *
    *  - Large-star: every node attaches its LARGER neighbors to the
    *    minimum of its closed neighborhood — one groupBy-min + one join
    *    over the symmetric edge list.
    *  - Small-star: with edges oriented big→small, every node attaches
    *    its smaller neighbors AND itself to its minimum neighbor.
    *
    * Fixpoint (edge set unchanged — checked with an exact anti-join, not
    * a hash signature that could collide into a silent mislabel) is a
    * union of stars rooted at each component's min id. Per round: a
    * bounded number of shuffles over O(|edges|) rows, every frame
    * checkpointed so the plan stays O(1) (see class doc).
    */
  def starContraction(edges: DataFrame, aCol: String, bCol: String,
                      maxRounds: Int = 60,
                      reliable: Boolean = false): DataFrame = {
    val nodes = pin(edges.select(col(aCol).as("id"))
      .union(edges.select(col(bCol).as("id"))).distinct(), reliable)
    // canonical orientation big→small; drops self-loops and dup edges
    var e = pin(edges
      .select(greatest(col(aCol), col(bCol)).as("u"),
              least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v")).distinct(), reliable)
    var eCount = e.count()
    logRound(s"star seed: edges=$eCount")
    var converged = eCount == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      val tr = System.nanoTime()
      // LARGE-STAR: center every node over the symmetric neighborhood;
      // m = min(Γ(u) ∪ {u}) = least(min neighbor, u); emit (v, m) for
      // every neighbor v > u. m ≤ u < v, so output is already canonical.
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lmin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val large = sym.join(lmin, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
        .distinct()
      // SMALL-STAR: edges already oriented big→small, so every neighbor
      // of center u is smaller; m = min(N(u)); attach every smaller
      // neighbor and u itself to m.
      val smin = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = pin(large.join(smin, Seq("u"))
        .select(col("v").as("x"), col("m"))
        .union(smin.select(col("u").as("x"), col("m")))
        .where(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .distinct(), reliable)
      val nextCount = next.count()
      converged = nextCount == eCount &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      releasePin(e, reliable) // fixpoint probe done; prev round is dead
      e = next
      eCount = nextCount
      round += 1
      logRound(f"star round=$round edges=$eCount converged=$converged " +
        f"${(System.nanoTime() - tr) / 1e6}%.0f ms")
    }
    require(converged,
      s"starContraction did not converge in $maxRounds rounds")
    // converged star: every non-root has exactly one edge to its root;
    // roots and isolated nodes label themselves
    nodes
      .join(e.select(col("u").as("id"), col("v").as("component")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Every doc labeled with its duplicate-class representative:
    * (idCol, component, cluster_size). Docs in no pair are singleton
    * classes (component = own id, cluster_size = 1). Downstream, "keep
    * one per class" is `where(col(idCol) === col("component"))` — the
    * representative is the class min, chosen deterministically.
    *
    * The label join-back broadcasts when the pair graph is small (AQE
    * decides); cluster_size is one window count over the component key
    * — a single extra exchange on a #docs-row frame of two longs.
    */
  def duplicateClusters(docs: DataFrame, pairs: DataFrame,
                        idCol: String, aCol: String = "a",
                        bCol: String = "b",
                        reliable: Boolean = false): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol, reliable = reliable)
    docs.select(col(idCol))
      .join(labels, docs(idCol) === labels("id"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
  }
}
