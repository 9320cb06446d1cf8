package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline, and
  * an IVF (inverted-file / coarse-quantization) variant as the scale path.
  *
  * Scale design:
  *  - Cosine is a pure higher-order-function expression (`zip_with` +
  *    `aggregate` over doubles) — codegen-adjacent, no UDF, no Python.
  *  - Brute force: queries are broadcast (a query batch is small);
  *    the corpus never shuffles; per-query top-k is a window row_number.
  *    Note the window shuffles |Q|×|corpus| scored rows on query_id —
  *    acceptable for small query batches; shrink the candidate set with
  *    `ivfTopK` before brute-forcing when the corpus is large.
  *  - IVF: vectors are pre-assigned to their nearest centroid by a
  *    per-row fold over the (collected, small) centroid array — a
  *    scan-stage projection with no row blow-up; a query probes only its
  *    own cluster ⇒ the candidate set shrinks by ~c×. Centroid
  *    assignment doubles as a partitioning key, so cluster files can be
  *    partition-pruned on read at 100 TB.
  */
object Similarity {

  /** Sum over element-wise product of two float-array columns, in double
    * arithmetic, left-to-right (deterministic, engine-portable).
    * Session-independent HOF form; the operators below use the
    * value-identical codegen'd `graft_dot` expression instead (HOF
    * lambdas evaluate interpreted — the fused native loop measured ~5×
    * on pairwise scoring), self-registering it on the input's session.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Codegen'd dot product (graft.functions.DotProduct); resolves
    * through the session function registry that
    * [[graft.functions.GraftExtensions]] fills on every engine session.
    */
  private def ndot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def nnorm(a: Column): Column = sqrt(ndot(a, a))

  /** Zero-norm-safe cosine from a precomputed dot and norm product:
    * NULL when the norm product is zero. Under ANSI mode (the Spark 4
    * default) a bare double division by zero THROWS — one corrupt zero
    * vector would kill a whole 100 TB job. NULL never passes a
    * `>= threshold` cut and sorts last under `desc(sim)`, so zero-norm
    * vectors simply never match anything. (Deliberate divergence from
    * IEEE NaN — and from DuckDB, whose 0/0 = NaN ranks ABOVE every
    * double; no driver table contains a zero vector, so no oracle
    * exercises the branch.)
    */
  private def safeDiv(dotProd: Column, normProd: Column): Column =
    when(normProd > 0d, dotProd / normProd)

  /** Cosine similarity of two float-array columns (double arithmetic).
    * NULL when either vector has zero norm (see [[safeDiv]] — ANSI
    * division would throw, IEEE NaN would rank the zero vector as
    * everyone's nearest neighbor; NULL makes it match nothing).
    * `nonZeroNorm` remains the upstream filter when zero vectors are
    * expected in bulk.
    */
  def cosine(a: Column, b: Column): Column =
    safeDiv(dot(a, b), norm(a) * norm(b))

  /** Predicate: the vector has a non-zero norm (guards cosine's NaN). */
  def nonZeroNorm(v: Column): Column = dot(v, v) > 0d

  /** Exact brute-force top-k: for each query vector, the k most cosine-
    * similar corpus vectors (excluding itself when ids collide).
    * `queries` is broadcast — keep query batches small (≤ ~10⁴ rows).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    // norms are projected ONCE per side (|Q| + |corpus| sqrt-dots) and
    // reused across every pair — the naive inline cosine recomputes both
    // norms per PAIR, tripling the dominant flop count. Same doubles
    // (same arithmetic, just computed earlier), so oracle hashes agree.
    val q = queries.select(col(idCol).as("query_id"),
                           col(vecCol).as("qv"),
                           nnorm(col(vecCol)).as("qnrm"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
                          nnorm(col(vecCol)).as("cnrm"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("sim",
        safeDiv(ndot(col("qv"), col("cv")), col("qnrm") * col("cnrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), asc("cand_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("rnk"),
              round(col("sim"), 6).as("sim"))
  }

  /** Assign each vector to its nearest centroid by cosine (IVF coarse
    * quantization). `centroids` must be small by contract (they are
    * COLLECTED to the driver — a deliberate, documented job at
    * operator-build time). Adds `centroid_id` (long).
    *
    * The argmax is a per-row FOLD over the centroid array literal,
    * running inside the scan stage: no |vectors|×|centroids| row
    * intermediate, no aggregation, no shuffle. (The previous broadcast
    * cross-join + max_by formulation materialized |V|×|c| rows and then
    * sort-aggregated them back down — max_by's struct buffer forces
    * SortAggregate — which at 1B vectors × 256 centroids is ~256× the
    * I/O of the table itself. Map-side combine made it tolerable; not
    * materializing the blow-up at all is strictly better.)
    *
    * Parity details: the fold computes the FULL cosine exactly as the
    * SQL oracle does (dot / (√dot(v,v) · √dot(c,c))) — centroid norms
    * are precomputed at the driver with the same left-to-right double
    * arithmetic, and a strict `>` keeps the FIRST maximum, i.e. the
    * lowest centroid id on ties — identical to
    * `ORDER BY csim DESC, centroid_id ASC`. dot(v,v) is re-evaluated
    * per centroid (hoisting it into a column risks CollapseProject
    * inlining it back into the lambda); the waste is one extra dot per
    * centroid, not a row blow-up.
    */
  /** Collect + norm the centroid table (small by contract — a
    * deliberate, documented driver-side job at operator-build time).
    */
  private def collectCentroids(centroids: DataFrame, idCol: String,
      vecCol: String): Seq[(Long, Seq[Float], Double)] = {
    require(centroids.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"IVF assignment requires a numeric $idCol (ids surface as long)")
    val cents = centroids
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect().toSeq
      .map { r =>
        val v = r.getSeq[Float](1)
        // left-to-right double sum — bit-identical to aggregate()/
        // list_dot_product's fold order
        val sumSq = v.foldLeft(0d)((acc, x) =>
          acc + x.toDouble * x.toDouble)
        (r.getLong(0), v, math.sqrt(sumSq))
      }
      .sortBy(_._1)
    require(cents.nonEmpty, "IVF assignment needs at least one centroid")
    cents
  }

  def ivfAssign(vectors: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String): DataFrame = {
    val cents = collectCentroids(centroids, idCol, vecCol)
    // Fused native kernel (functions/ArgmaxCentroidExpression): the
    // composable form — a Column aggregate() fold over typedlit(cents)
    // scoring each centroid coalesce(when(normProd > 0, dot/normProd),
    // Double.MinValue) — evaluates its lambda INTERPRETED per centroid
    // per row and recomputes the row norm k times; at corpus scale the
    // assignment IS the IVF hot path. The kernel reproduces the fold's
    // exact semantics (Double.MinValue no-signal score beats the -Inf
    // seed, so zero-norm/degenerate vectors still assign to the
    // lowest-id cell — the one ivfAssignProbes ranks first; strict >
    // keeps the lowest id on ties; left-to-right double sums), pinned
    // by ArgmaxParitySpec against the fold formulation.
    val bridge = org.apache.spark.sql.GraftSqlBridge
    vectors.withColumn("centroid_id",
      bridge.columnOf(graft.functions.ArgmaxCentroidExpr(
        bridge.expressionOf(col(vecCol)), cents)))
  }

  /** Top-`nprobe` centroid assignments per vector (IVF multi-probe):
    * one row per (vector, probe cell), with `centroid_id` and
    * `probe_rank` (1-based; rank 1 is exactly the cell `ivfAssign`
    * picks — strict-descending cosine, lowest centroid id on ties).
    *
    * Per-row cost is one c-length (−cosine, id) struct sort inside the
    * scan stage — still no |V|×|c| row intermediate, no aggregation, no
    * shuffle; only the explode multiplies rows, by nprobe (the point:
    * each probe row joins one more cell). Meant for the QUERY side of
    * `ivfTopK` — recall at cell boundaries is the known IVF failure
    * mode, and a query near a boundary has its true neighbors in its
    * runner-up cell. The corpus side stays argmax-assigned (cells are
    * disjoint, so multi-probe candidates never need dedup).
    */
  def ivfAssignProbes(vectors: DataFrame, centroids: DataFrame,
                      idCol: String, vecCol: String,
                      nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val cents = collectCentroids(centroids, idCol, vecCol)
    // same Double.MinValue no-signal sentinel as ivfAssign's fold —
    // probe 1 must be exactly ivfAssign's cell, including for zero-norm
    // vectors/centroids (both paths then break ties on lowest id)
    val scored = transform(typedlit(cents), ct =>
      struct(coalesce(
          safeDiv(ndot(col(vecCol), ct.getField("_2")),
                  nnorm(col(vecCol)) * ct.getField("_3")),
          lit(Double.MinValue)).as("sim"),
        ct.getField("_1").as("c")))
    // explicit (sim DESC, id ASC) comparator rather than sorting a
    // negated sim: the fold above keeps the FIRST strict maximum in
    // centroid-id order, so the comparator must break sim ties on
    // ascending id to agree with it
    val cmp = (l: Column, r: Column) =>
      when(l.getField("sim") > r.getField("sim"), lit(-1))
        .when(r.getField("sim") > l.getField("sim"), lit(1))
        .when(l.getField("c") < r.getField("c"), lit(-1))
        .when(l.getField("c") > r.getField("c"), lit(1))
        .otherwise(lit(0))
    val top = slice(array_sort(scored, cmp), 1, nprobe)
    vectors.select(col("*"), posexplode(top).as(Seq("_p", "_pc")))
      .withColumn("probe_rank", (col("_p") + 1).cast("int"))
      .withColumn("centroid_id", col("_pc").getField("c"))
      .drop("_p", "_pc")
  }

  /** Int8-quantized ANN top-k with exact rerank: both sides are
    * scalar-quantized to int8 (`graft_quantize_i8` — 4× narrower than
    * the float vectors), the coarse score is an EXACT-integer quantized
    * cosine (`graft_dot_i8` over the quantized vectors and their
    * quantized norms — the per-vector scales cancel in the ratio, so no
    * float arithmetic enters the coarse ranking at all), each query
    * keeps its `rerank` best candidates, and only those survivors join
    * back to the full-precision vectors for the exact cosine top-k.
    *
    * SCALE SHAPE: the corpus float vectors are touched exactly twice —
    * once to quantize (scan-stage projection; at 100 TB you would
    * materialize the quantized column once and amortize it across
    * every query batch) and once in the rerank join, which is a
    * BROADCAST join against |Q|·rerank surviving (query, cand) pairs.
    * The coarse scoring pipeline itself carries byte arrays — a quarter
    * of the broadcast and scoring width of `bruteForceTopK` — and like
    * q24 it is bounded-by-contract on |Q|; compose with IVF cell
    * blocking (`ivfTopK`) when the corpus side also needs bounding.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank window ($rerank) must be >= k ($k)")
    def qside(df: DataFrame, idAs: String, qvAs: String, qnAs: String) =
      df.select(col(idCol).as(idAs),
          call_function("graft_quantize_i8", col(vecCol)).as(qvAs))
        .withColumn(qnAs,
          sqrt(call_function("graft_dot_i8", col(qvAs), col(qvAs))
            .cast("double")))
    val cq = qside(corpus, "cand_id", "cqv", "cqn")
    val qq = qside(queries, "query_id", "qqv", "qqn")
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(desc("qsim"), asc("cand_id"))
    val survivors = cq
      .join(broadcast(qq), col("query_id") =!= col("cand_id"))
      .withColumn("qsim", round(
        safeDiv(call_function("graft_dot_i8", col("qqv"), col("cqv"))
          .cast("double"), col("qqn") * col("cqn")), 6))
      .withColumn("crnk", row_number().over(wCoarse))
      .where(col("crnk") <= rerank)
      .select(col("query_id"), col("cand_id"))
    // exact rerank over the survivors only: fetch full-precision vectors
    // by id (broadcast the tiny survivor and query sides)
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
      nnorm(col(vecCol)).as("cnrm"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), nnorm(col(vecCol)).as("qnrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), asc("cand_id"))
    cv.join(broadcast(survivors), Seq("cand_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("sim",
        round(safeDiv(ndot(col("qv"), col("cv")),
          col("qnrm") * col("cnrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("rnk"), col("sim"))
  }

  /** One Lloyd (k-means) iteration over an embedding corpus: assign every
    * vector to its nearest centroid, then recompute per-cluster
    * element-wise means. Returns the LONG form (centroid_id, pos, mean,
    * n_members), pos 1-based — scalar rows that cross-check exactly
    * against any engine; pack with `collect_list(struct(pos, mean))` when
    * an array is needed. Scale shape: one broadcast (centroids), one
    * map-side-combined aggregation over |vectors|×dim rows — no shuffle
    * of the raw vectors beyond the agg exchange.
    */
  def kmeansIter(vectors: DataFrame, centroids: DataFrame, idCol: String,
                 vecCol: String): DataFrame = {
    val assigned = ivfAssign(vectors, centroids, idCol, vecCol)
    assigned
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("p", "x")))
      .groupBy(col("centroid_id"), (col("p") + 1).as("pos"))
      .agg(round(avg(col("x").cast("double")), 6).as("mean"),
           count(lit(1)).as("n_members"))
  }

  /** Multi-round Lloyd k-means — the IVF centroid TRAINER
    * ([[kmeansIter]] is one step; this converges the codebook the
    * `ivfTopK`/`cosineNearDupPairs` contract takes as given). Per
    * round: one scan-stage cosine argmax over the corpus
    * ([[ivfAssign]]'s fold — no |V|×k row blow-up), one map-side-
    * combined per-(cell, dimension) mean, then a k×d collect — the
    * iterated state is k·d doubles on the driver, bounded by the same
    * contract that bounds the IVF centroid table itself, so rounds
    * never grow a distributed plan (nothing to pin).
    *
    * DETERMINISTIC QUANTIZED STEP: each round's means are rounded to
    * 6 dp and float-truncated (the same float round-trip the centroid
    * broadcast applies anyway), so any engine replaying the recurrence
    * — including the DuckDB oracle, which mirrors the cast chain —
    * computes bit-identical assignments every round. Empty cells keep
    * their previous centroid (classic Lloyd carryover). Returns the
    * FINAL round's (centroid_id, pos, mean, n_members), kmeansIter's
    * shape; empty cells are absent from it, exactly as in one step.
    *
    * Seed with [[kmeansInit]] for a hash-deterministic start; pass
    * `tol > 0` for a quantized-shift early stop (`iterations` becomes
    * the max) — both replayable by an external oracle, see q290.
    */
  def kmeansTrain(vectors: DataFrame, initCentroids: DataFrame,
                  idCol: String, vecCol: String, iterations: Int,
                  tol: Double = 0.0): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val spark = vectors.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Seq[Float])] = initCentroids
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "k-means needs at least one centroid")
    def step(): DataFrame = {
      val centDf = cents.toDF(idCol, vecCol)
      ivfAssign(vectors, centDf, idCol, vecCol)
        .select(col("centroid_id"),
          posexplode(col(vecCol)).as(Seq("p", "x")))
        .groupBy(col("centroid_id"), (col("p") + 1).cast("int").as("pos"))
        .agg(round(avg(col("x").cast("double")), 6).as("mean"),
             count(lit(1)).as("n_members"))
    }
    // CONVERGENCE STOP (tol > 0): after each centroid update, the shift
    // is the max per-(cell, position) |new − prev| over the QUANTIZED
    // float values — deterministic, so an oracle replaying the quantized
    // recurrence computes the identical stop decision (q290 unrolls it
    // as a CASE over scalar max-shift subqueries). Stopping at round r
    // returns round r's means — the ones whose update shifted ≤ tol —
    // by NOT applying the converged update; tol = 0.0 (default) is the
    // fixed-iteration behavior, bit-identical to before.
    var stopped = false
    for (r <- 1 until iterations if !stopped) {
      val means = step().collect() // k×d rows — bounded by contract
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1)
      val updated = cents.map { case (cid, prev) =>
        means.get(cid) match {
          case Some(rows) =>
            val byPos = rows.map(t => t._2 -> t._3.toFloat).toMap
            // a dim-short member vector leaves positions uncovered;
            // coalesce each missing position to the previous centroid
            // value — the per-position carryover the q289 oracle's
            // coalesce(mean, prev) replays (a bare byPos(i+1) threw an
            // opaque NoSuchElementException here instead)
            (cid, prev.indices.map(i => byPos.getOrElse(i + 1, prev(i))))
          case None => (cid, prev) // empty cell: carry the centroid
        }
      }
      if (tol > 0.0) {
        val shift = cents.zip(updated).iterator.flatMap {
          case ((_, prev), (_, next)) =>
            prev.zip(next).iterator
              .map { case (p, n) => (n.toDouble - p.toDouble).abs }
        }.foldLeft(0.0)(math.max)
        if (shift <= tol) stopped = true
        System.err.println(
          f"[graft.kmeans] round=$r shift=$shift%.7f tol=$tol " +
            f"stopped=$stopped")
      }
      if (!stopped) cents = updated
    }
    step()
  }

  /** Hash-deterministic k-means seeding: the k vectors with the
    * smallest `md5(id)` digest (ties by id) — the same md5-on-id
    * convention as `Sampling.hashSample`, so the seed set is a
    * reproducible pseudo-random sample ANY engine can replay
    * (`ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT k` is the exact
    * DuckDB twin; q290 does). Centroid ids are the chosen vectors'
    * ids. Scale: a top-k (TakeOrderedAndProject — per-partition heap
    * + driver merge of k·partitions rows), never a global sort
    * shuffle; k is bounded by the same contract that bounds the IVF
    * centroid table.
    */
  def kmeansInit(vectors: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    vectors.select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs — the fifth dedup modality
    * (exact / Jaccard / MinHash / SimHash live in NearDup). Candidate
    * pairs are generated WITHIN an IVF cell only: near-identical vectors
    * assign to the same nearest centroid, so recall at high thresholds
    * is ≈1 while the pair space shrinks from |V|²/2 to Σ|cell|²/2 —
    * never all-pairs, and the cell equi-join shuffles on centroid_id
    * (AQE splits a skewed cell). At 100 TB, raise the centroid count so
    * cells stay ~10⁴–10⁵ vectors (cells² work per cell); the same
    * centroid set then serves ivfTopK probes and dedup.
    */
  def cosineNearDupPairs(vectors: DataFrame, centroids: DataFrame,
                         idCol: String, vecCol: String,
                         minCosine: Double): DataFrame = {
    val assigned = ivfAssign(vectors, centroids, idCol, vecCol)
    // per-vector norm crosses the cell shuffle as a column: computed
    // |V| times, reused across every in-cell pair (inline cosine would
    // recompute both norms per pair — 3× the flops of the dot alone)
    val a = assigned.select(col("centroid_id"), col(idCol).as("a"),
                            col(vecCol).as("av"),
                            nnorm(col(vecCol)).as("anrm"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("b"),
                            col(vecCol).as("bv"),
                            nnorm(col(vecCol)).as("bnrm"))
    // hint("merge"): cell-blocked self-join of the full corpus WITH its
    // embedding arrays — a misjudged broadcast would materialize every
    // vector in one hash relation (NearDup symdelete OOM shape)
    a.hint("merge").join(b, Seq("centroid_id"))
      .where(col("a") < col("b"))
      // round BEFORE thresholding (both engines see the same 6-dp value,
      // so the cut never flips on a last-ulp difference)
      .withColumn("sim",
        round(safeDiv(ndot(col("av"), col("bv")),
                      col("anrm") * col("bnrm")), 6))
      .where(col("sim") >= minCosine)
      .select(col("a"), col("b"), col("centroid_id"), col("sim"))
  }

  /** Deterministic pseudo-random hyperplane components for
    * [[hyperplaneLshPairs]]: component (j, d) = 2·u − 1 where u is the
    * first 15 hex chars of md5("hp:j:d") scaled to [0, 1). md5-derived
    * like [[NearDup.seededHash]] so ANY engine reproduces the exact
    * doubles (`CAST('0x' || substr(md5(..), 1, 15) AS BIGINT) / 2^60`
    * in DuckDB/ANSI — bit-identical IEEE arithmetic both sides).
    * Uniform (not Gaussian) components: for sign-projection LSH only
    * the direction distribution matters and symmetric-uniform
    * coordinates keep the collision-probability ≈ 1 − θ/π property in
    * practice while staying portable; these are CONSTANTS computed at
    * operator build (no data job, no collect — the driver-step-free
    * property that distinguishes this from IVF's centroid table).
    */
  private[operators] def hyperplanes(bits: Int, dim: Int)
      : Seq[Seq[Double]] =
    graft.functions.HyperplaneSigExpr.planes(bits, dim)

  /** Embedding near-duplicate pairs by RANDOM-HYPERPLANE LSH (SimHash
    * for vectors, Charikar STOC'02): signature bit j = sign of the
    * projection onto fixed pseudo-random hyperplane j, banded like
    * text SimHash — vectors agreeing on all `bandBits` bits of any
    * band become candidates, candidates are scored with the exact
    * cosine and kept at `minCosine`. Exact-over-candidates, so
    * precision is 1; recall is the LSH trade (two near-identical
    * vectors disagree on a bit with probability θ/π ≈ 0 as θ → 0).
    *
    * vs [[cosineNearDupPairs]] (IVF-cell blocking): that path needs a
    * centroid table COLLECTED at the driver; this one needs no
    * centroids, no k-means, no driver-side data step — the hyperplanes
    * are md5-derived constants — so it composes with streaming and
    * with corpora whose cluster structure is unknown. Candidate
    * volume: each band splits the corpus into 2^bandBits buckets;
    * in-bucket joins are the only pair source (never all-pairs). At
    * 100 TB raise `bandBits` so buckets stay ~10⁴ vectors — same
    * knob-per-scale story as the text-side LSH.
    *
    * SCALE SHAPE: signatures come from the fused
    * `graft_hyperplane_sig` kernel — ONE codegen'd pass of bits × dim
    * multiply-adds per row inside the scan stage (the per-bit HOF-fold
    * formulation evaluated interpreted: two lambda dispatches and an
    * intermediate array per element, ×bits per row), no shuffle, no
    * explode until the bands×|V| banding rows. Each vector RIDES the
    * banding exchange (bands × corpus bytes, linear), the exact cosine
    * is computed INLINE on the band join's output stream, and only the
    * surviving scored pairs are materialized for the cross-band dedup.
    * The r18 sf10 (100×) leg showed why the join-back-by-id form had
    * to go: at fixed bandBits the collision-pair count grows
    * ~N²/2^bandBits, and attaching vectors to those pairs by id made
    * TWO sort-merge joins sort a pair stream carrying 8·dim-byte
    * arrays — ~55 GB of sort spill at 100×, disk-death
    * (FAILED-AT-SCALE). Scoring in-stream shuffles the vectors once
    * and shrinks the pair-sized shuffle to the (a, b, sim) survivors;
    * the trade is one cosine per BAND-LEVEL collision (up to bands×
    * per distinct pair, for vectors colliding in several bands) where
    * the old plan scored each distinct pair once after its dedup —
    * bounded recompute bought by eliminating the two pair-sized
    * attach joins.
    * Each bit is sign(round(projection, 6)) —
    * rounded so the oracle's sum order can't flip a bit on a last-ulp
    * difference at the 0 boundary.
    */
  def hyperplaneLshPairs(vectors: DataFrame, idCol: String, vecCol: String,
                         dim: Int, bits: Int, bandBits: Int,
                         minCosine: Double): DataFrame = {
    require(bits % bandBits == 0, s"bits=$bits not divisible by $bandBits")
    // band values pack into Ints: 1 << 31 would flip the sign bit and
    // break the portable non-negative band-value formula the oracle
    // replays (the kernel enforces the same bound)
    require(bandBits >= 1 && bandBits <= 31,
      s"bandBits must be in 1..31, got $bandBits")
    val bands = bits / bandBits
    val sig = call_function("graft_hyperplane_sig", col(vecCol),
      lit(bits), lit(bandBits), lit(dim))
    // pinned: BOTH sides of the band self-join read this table, and
    // the kernel's bits×dim multiply-adds per row are the dominant
    // per-row cost — recomputing them per side doubles the flops. The
    // pinned form carries the vector and its norm alongside the band
    // ints (r18: the join-back-by-id scoring this used to feed sorted
    // a pair stream that grows ~N²/2^bandBits at fixed bandBits, with
    // 8·dim-byte arrays attached — ~55 GB of sort spill at the 100×
    // twin, disk-death; carrying the vector through the banding
    // exchange instead moves bands × corpus bytes, linear, and the
    // pair-sized traffic shrinks to the scored survivors). Pin, not
    // persist: blocks are ContextCleaner-scoped (freed when the result
    // frame is dropped), not session-lifetime CacheManager entries
    // nothing ever releases. FOOTPRINT (r19 note): carrying vec+nrm
    // grew the pin from ~24 B/vector of band ints to ~dim×8 B/vector —
    // corpus-sized, on NON-reliable localCheckpoint blocks (an
    // executor loss fails the job, with more data at stake than the
    // r18 form). A very large corpus should route this pin through a
    // reliable checkpoint dir (Components.pin reliable knob) if
    // executor loss mid-query matters more than the write.
    val sigs = Components.pin(
      vectors
        .select(col(idCol).as("id"), col(vecCol).as("vec"),
          nnorm(col(vecCol)).as("nrm"), sig.as("_sig"))
        .select(Seq(col("id"), col("vec"), col("nrm")) ++
          (0 until bands).map(b =>
            element_at(col("_sig"), b + 1).as(s"hb$b")): _*),
      reliable = false)
    val banded = sigs.select(col("id"), col("vec"), col("nrm"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), col(s"hb$b").as("v"))): _*)).as("bv"))
      .select(col("id"), col("vec"), col("nrm"),
        col("bv.band").as("band"), col("bv.v").as("v"))
    // hint("merge"): banded self-join — Catalyst sizes the exploded
    // band table off the un-exploded input, and a misjudged broadcast
    // materializes the whole index as one hash relation (the NearDup
    // symdelete OOM, same shape); sort-merge spills instead. The exact
    // cosine is computed ON THE JOIN OUTPUT STREAM — one ndot per
    // BAND-LEVEL collision, so up to bands× per distinct pair that
    // collides in several bands (see the scaladoc) — the threshold
    // filters in-stream, and only the surviving (a, b, sim) rows reach
    // the cross-band dedup on (a, b) below.
    banded.select(col("band"), col("v"), col("id").as("a"),
        col("vec").as("av"), col("nrm").as("anrm"))
      .hint("merge")
      .join(banded.select(col("band"), col("v"), col("id").as("b"),
        col("vec").as("bv"), col("nrm").as("bnrm")), Seq("band", "v"))
      .where(col("a") < col("b"))
      .withColumn("sim",
        round(safeDiv(ndot(col("av"), col("bv")),
                      col("anrm") * col("bnrm")), 6))
      .where(col("sim") >= minCosine)
      .select(col("a"), col("b"), col("sim"))
      // keyed on the PAIR IDS only (r19, ADVICE): cross-band duplicates
      // carry bitwise-identical sims (deterministic expression over the
      // same pinned arrays), but keying the dedup on (a, b) makes that
      // invariant explicit instead of load-bearing — a distinct() over
      // (a, b, sim) silently depended on FP reproducibility across
      // collisions
      .dropDuplicates("a", "b")
  }

  /** SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023, re-expressed over
    * LSH blocks): drop every vector that is ≥ `minCosine` similar to
    * some SMALLER-id vector in one of its hyperplane-LSH buckets; keep
    * the rest. The keep-first-occurrence rule is single-pass and
    * deterministic: in a chain a~b, b~c (a≁c), BOTH b and c drop —
    * each is dominated by an earlier neighbor, whether or not that
    * neighbor itself survives. Callers who want one KEPT witness per
    * transitive class instead run [[Components.duplicateClusters]]
    * over [[hyperplaneLshPairs]]' output (the q73 path); this is the
    * cheap non-iterative gate a curation pipeline applies first.
    *
    * SCALE SHAPE: candidate generation is [[hyperplaneLshPairs]] —
    * banded, never all-pairs, fused-kernel signatures. The drop set is
    * a DISTINCT over pair right-sides (ids only, tiny rows), removed
    * with one hash anti-join; the corpus never carries its vectors
    * through any of it except the pairs' exact-cosine rescoring.
    */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    dim: Int, bits: Int, bandBits: Int,
                    minCosine: Double): DataFrame = {
    val dominated = hyperplaneLshPairs(vectors, idCol, vecCol,
        dim, bits, bandBits, minCosine)
      .select(col("b").as(idCol)).distinct()
    vectors.join(dominated, Seq(idCol), "left_anti")
  }

  /** CROSS-SET semantic decontamination: drop every corpus vector that
    * is ≥ `minCosine` similar to ANY benchmark vector sharing one of
    * its hyperplane-LSH buckets — [[semanticDedup]]'s two-table sibling
    * and the embedding-space counterpart of the n-gram
    * decontamination (q66): n-grams catch verbatim leakage, this
    * catches paraphrased leakage.
    *
    * SCALE SHAPE: the benchmark is small by definition, so its banded
    * signatures AND its vectors ride broadcasts — the corpus is never
    * shuffled at all: signatures are kernel-computed in the scan stage,
    * candidates come from a broadcast band join, the exact-cosine
    * confirmation joins corpus vectors by id, and the final removal is
    * one broadcast anti-join of contaminated ids.
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String,
                            dim: Int, bits: Int, bandBits: Int,
                            minCosine: Double): DataFrame = {
    require(bits % bandBits == 0, s"bits=$bits not divisible by $bandBits")
    val bands = bits / bandBits
    val sig = call_function("graft_hyperplane_sig", col(vecCol),
      lit(bits), lit(bandBits), lit(dim))
    def bandRows(df: DataFrame, out: String): DataFrame = df
      .select(col(idCol).as(out), sig.as("_sig"))
      .select(col(out), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          element_at(col("_sig"), b + 1).as("v"))): _*)).as("bv"))
      .select(col(out), col("bv.band").as("band"), col("bv.v").as("v"))
    val cands = bandRows(corpus, "cid")
      .join(broadcast(bandRows(bench, "bid")), Seq("band", "v"))
      .select(col("cid"), col("bid")).distinct()
    val cv = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      nnorm(col(vecCol)).as("cn"))
    val bv = bench.select(col(idCol).as("bid"), col(vecCol).as("bv"),
      nnorm(col(vecCol)).as("bn"))
    val contaminated = cands.join(cv, Seq("cid"))
      .join(broadcast(bv), Seq("bid"))
      .withColumn("sim",
        round(safeDiv(ndot(col("cv"), col("bv")),
                      col("cn") * col("bn")), 6))
      .where(col("sim") >= minCosine)
      .select(col("cid").as(idCol)).distinct()
    corpus.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** IVF ANN top-k: each query probes its `nprobe` nearest centroid
    * cells (default 1 = own cluster only). Recall < 1 by design (that's
    * the approximation); nprobe=2 recovers the boundary neighbors the
    * argmax cell misses at the cost of one more joined cell per query —
    * the corpus side always stays argmax-assigned, so candidates are
    * unique without any dedup.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nprobe: Int = 1): DataFrame = {
    val corpusAssigned = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
              nnorm(col(vecCol)).as("cnrm"), col("centroid_id"))
    val queriesAssigned =
      (if (nprobe <= 1) ivfAssign(queries, centroids, idCol, vecCol)
       else ivfAssignProbes(queries, centroids, idCol, vecCol, nprobe))
        .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
                nnorm(col(vecCol)).as("qnrm"), col("centroid_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), asc("cand_id"))
    corpusAssigned.join(broadcast(queriesAssigned), Seq("centroid_id"))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("sim",
        safeDiv(ndot(col("qv"), col("cv")), col("qnrm") * col("cnrm")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("cand_id"), col("rnk"),
              round(col("sim"), 6).as("sim"))
  }

  /** Mutual best match (reciprocal nearest neighbor): within each
    * block, pairs where each vector is the other's single most-similar
    * neighbor — the high-precision entity-resolution cut (a one-way
    * top-1 match is often a hub; a RECIPROCAL one almost never is).
    * Ties break toward the smaller candidate id so "best" is unique
    * and the oracle can state it.
    *
    * SCALE CONTRACT: candidate generation is all-pairs WITHIN a block
    * (blocks must be bounded — a coarse cluster id, an LSH band, a
    * category; [[hyperplaneLshPairs]] is the blocking generator for
    * the no-label regime). The best-neighbor reduction is an ARGMAX
    * AGGREGATE (max_by over a (sim, −id) struct), map-side combined —
    * never a per-pair window; the reciprocity check is one self-join
    * of the #vectors-sized best table.
    *
    * Returns (a, b, sim) with a < b, sim rounded to 6.
    */
  def mutualBestMatch(vectors: DataFrame, idCol: String, vecCol: String,
                      blockCol: String): DataFrame = {
    val v = vectors.select(col(blockCol).as("_blk"),
      col(idCol).as("_id"), col(vecCol).as("_v"),
      nnorm(col(vecCol)).as("_n"))
    val pairs = v.select(col("_blk"), col("_id").as("_qa"),
        col("_v").as("_va"), col("_n").as("_na"))
      .join(v.select(col("_blk"), col("_id").as("_qb"),
        col("_v").as("_vb"), col("_n").as("_nb")), Seq("_blk"))
      .where(col("_qa") =!= col("_qb"))
      .select(col("_qa"), col("_qb"),
        safeDiv(ndot(col("_va"), col("_vb")), col("_na") * col("_nb"))
          .as("_sim"))
    val best = pairs.groupBy(col("_qa"))
      .agg(max_by(struct(col("_qb"), col("_sim")),
        struct(col("_sim"), -col("_qb"))).as("_best"))
      .select(col("_qa"), col("_best._qb").as("_bb"),
        col("_best._sim").as("_sim"))
    best.join(best.select(col("_qa").as("_bb"), col("_bb").as("_qa"),
        lit(1).as("_mutual")), Seq("_qa", "_bb"))
      .where(col("_qa") < col("_bb"))
      .select(col("_qa").as("a"), col("_bb").as("b"),
        round(col("_sim"), 6).as("sim"))
  }

  /** Upper-triangular Gram matrix of the embedding column per key —
    * the Σ v·vᵀ accumulation feeding covariance/PCA/whitening. ONE
    * aggregate pass ([[graft.functions.GramAgg]]): each map partition
    * reduces to a d(d+1)/2 Long buffer and partials merge like any
    * algebraic aggregate — the posexplode formulation would fan every
    * row out d² times before the shuffle. Entries are exact sums of
    * 1e-6-quantized products (order-independent — see GramAgg's
    * contract), reported to 6 decimals.
    *
    * Returns (key..., i, j, gram) for 0 ≤ i ≤ j < d — d(d+1)/2 rows
    * per key (2,080 at d = 64), the bounded-output regime where the
    * final posexplode of the single aggregate row is free.
    */
  def gramMatrix(vectors: DataFrame, keyCols: Seq[String],
                 vecCol: String, dim: Int): DataFrame = {
    val key = keyCols.map(col)
    val ga = udaf(graft.functions.GramAgg(dim))
    val pairIdx = for (i <- 0 until dim; j <- i until dim) yield (i, j)
    val is = array(pairIdx.map(p => lit(p._1)): _*)
    val js = array(pairIdx.map(p => lit(p._2)): _*)
    vectors.groupBy(key: _*)
      .agg(ga(col(vecCol)).as("_g"))
      .select(key ++ Seq(posexplode(col("_g")).as(Seq("_p", "_q"))): _*)
      .select(key ++ Seq(
        element_at(is, col("_p") + 1).as("i"),
        element_at(js, col("_p") + 1).as("j"),
        round(col("_q").cast("double") / lit(1e6), 6).as("gram")): _*)
  }

  /** Embedding-space dispersion diagnostics per key, from ONE pass of
    * exact aggregates — the representation-collapse screen ("did all
    * vectors of this label land on one point?"): per key the count,
    * the centroid's norm, the mean squared vector norm, and the mean
    * squared distance to the centroid via the identity
    * {{{ E‖v − c‖² = E‖v‖² − ‖c‖² }}}
    * — so NO second pass over the rows is needed (a per-row distance
    * would re-shuffle the table and its mean would be an
    * order-dependent float sum).
    *
    * DETERMINISM: component sums ride [[graft.functions.VecSumAgg]]'s
    * 1e-6-grain Long buffer; per-row ‖v‖² quantizes to 1e-6 DECIMAL
    * before summing (the chi² contribution protocol) — every
    * aggregate is exact and order-independent, doubles appear only in
    * the final fixed-shape arithmetic.
    *
    * SCALE SHAPE: one map-side-combined aggregate carrying a d-long
    * buffer + two scalars per key; the centroid-norm fold is over the
    * d-entry array of the ONE result row per key.
    */
  def embeddingDispersion(vectors: DataFrame, keyCols: Seq[String],
                          vecCol: String, dim: Int): DataFrame = {
    val key = keyCols.map(col)
    val vs = udaf(graft.functions.VecSumAgg(dim))
    // dot(v, v): the proven-parity left-to-right fold (q24's
    // list_dot_product twin)
    val sqNorm = dot(col(vecCol), col(vecCol))
    val agged = vectors.groupBy(key: _*)
      .agg(count(lit(1)).as("n"),
        vs(col(vecCol)).as("_gs"),
        sum(round(sqNorm, 6).cast("decimal(28,6)")).as("_sq"))
    // centroid component = grains/1e6/n; fold its squared norm over
    // the d-entry array (one row per key — bounded)
    val cNorm2 = aggregate(col("_gs"), lit(0.0).cast("double"),
      (acc, g) => {
        val c = g.cast("double") / lit(1e6) / col("n").cast("double")
        acc + c * c
      })
    agged
      .withColumn("_c2", cNorm2)
      .select(key ++ Seq(col("n"),
        round(sqrt(col("_c2")), 6).as("centroid_norm"),
        round(col("_sq").cast("double") / col("n").cast("double"), 6)
          .as("mean_sq_norm"),
        round(col("_sq").cast("double") / col("n").cast("double") -
          col("_c2"), 6).as("dispersion")): _*)
  }
}
