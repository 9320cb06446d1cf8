package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextAnalysis._

/** Near-duplicate detection for training-data curation: exact
  * (fingerprint group-by), n-gram Jaccard, MinHash + LSH banding, and
  * SimHash. The reference's dedup surface is `distinct` + MarkDuplicates
  * (`program/src/main/scala/hmushtaq/sparkga1/SparkGA1.scala:1241,822-851`);
  * these generalize it to *near*-duplicate text at corpus scale.
  *
  * Scale design:
  *  - Exact dedup = one hash shuffle on a 16-char fingerprint, not the
  *    full text (shuffle bytes ∝ 16B/doc, not doc size).
  *  - Jaccard is never all-pairs: pairs are generated either within a
  *    blocking key or from LSH candidates, both of which bound the
  *    quadratic blow-up. The inverted-index join (explode shingles →
  *    self-equi-join on shingle) lets Catalyst run it as a shuffled hash
  *    join; hot shingles (stopword-ish shingles shared by thousands of
  *    docs) should be dropped via a document-frequency cap first.
  *  - MinHash signatures are computed in ONE groupBy with k min()
  *    aggregates (map-side partial min ⇒ shuffle carries k×16 bytes per
  *    doc, independent of doc length). Banding is a groupBy on
  *    (band, bandHash) with the signature riding along, so each bucket
  *    emits its candidate pairs WITH match counts — no self-join, no
  *    join back to the signature table.
  *  - All hashes are md5-derived hex strings: exact, engine-portable
  *    (same values in DuckDB/any SQL engine), and order-stable.
  */
object NearDup {

  /** Handle to the intermediates an operator call pinned (eager local
    * checkpoint — NOT a session CacheManager entry; see Components.pin).
    * Lifetime is ContextCleaner-scoped by default: dropping the result
    * frame frees the blocks at the next GC. `release()` after the FINAL
    * action frees them NOW — the eager variant for tight loops. Because
    * a pin's lineage is truncated, releasing BEFORE the final action is
    * a contract violation that fails the consuming job (it cannot
    * recompute freed blocks) — the pre-r14 persist formulation would
    * instead silently recompute, but it also leaked a session-lifetime
    * CacheManager entry whenever release was skipped.
    */
  final class CacheHandle private[operators] (
      private[operators] val cached: Seq[DataFrame]) {
    def release(blocking: Boolean = false): Unit =
      cached.foreach(Components.releasePin(_, reliable = false, blocking))
  }

  /** (id, fingerprint) → canonical id per duplicate class + class size.
    * Exact near-dup: identical *normalized* text collapses together.
    */
  def exactDedupClasses(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"),
           count(lit(1)).as("class_size"))

  /** Duplicate-class canonicalization: one row per exact-dup class with
    * the member chosen by the HIGHEST `rankCol` as canonical (ties must
    * be broken inside `rankCol` itself — fold the id into the rank, e.g.
    * `quality * 2^24 - id` — because `max_by` on a tied rank is
    * order-dependent). Where [[exactDedupClasses]] keeps the min-id
    * member, this keeps the *best* member — the "keep the longest /
    * highest-quality copy" rule every crawl pipeline applies when
    * collapsing mirrors.
    *
    * Scale: identical shape to exact dedup — the shuffle carries
    * (16B fingerprint, 8B rank, id) per doc and the pick is a map-side
    * partial `max_by`; no window, no join back to the corpus. To keep
    * the winning docs' payloads, semi-join the result's canonical_id
    * back to the corpus on the id (one broadcast at moderate class
    * counts, one hash join otherwise).
    */
  def canonicalDocs(docs: DataFrame, idCol: String, textCol: String,
                    rankCol: Column): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"),
        rankCol.cast("long").as("_rank"))
      .groupBy(col("fp"))
      .agg(max_by(col(idCol), col("_rank")).as("canonical_id"),
           count(lit(1)).as("class_size"))

  /** One row per (id [+ extra cols]) with the doc's DISTINCT `n`-token
    * shingle SET as an array column `shingles`. The set is built per-doc
    * in the scan stage (tokens → sliding concat → array_distinct):
    * per-doc distinctness needs no global `.distinct()` shuffle, and the
    * set size |A| is just `size(shingles)` — no window pass. The whole
    * derivation is ZERO-shuffle (the row formulation used here in round 1
    * cost a window exchange + a distinct exchange + a second window for
    * the set size).
    *
    * The token array is projected into a real column first, and the
    * shingle build itself is the native `graft_shingles` expression
    * (graft.functions.WordShingles) — the HOF `transform` form evaluates
    * interpreted, paying a lambda dispatch + a slice copy per shingle.
    */
  def shingleArrays(docs: DataFrame, idCol: String, extraCols: Seq[String],
                    textCol: String, n: Int): DataFrame = {
    val keep = col(idCol) +: extraCols.map(col)
    Spread(docs)
      .select(keep :+ tokens(col(textCol)).as("_toks"): _*)
      .select(keep :+
        array_distinct(call_function("graft_shingles", col("_toks"), lit(n)))
          .as("shingles"): _*)
  }

  /** One row per (id [+ extra cols], DISTINCT shingle). */
  def shingleRows(docs: DataFrame, idCol: String, extraCols: Seq[String],
                  textCol: String, n: Int): DataFrame = {
    val keep = col(idCol) +: extraCols.map(col)
    shingleArrays(docs, idCol, extraCols, textCol, n)
      .select(keep :+ explode(col("shingles")).as("shingle"): _*)
  }

  /** One row per (id, distinct shingle). `n`-token shingles. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int)
      : DataFrame =
    shingleRows(docs, idCol, Seq.empty, textCol, n)

  /** Exact pairwise n-gram Jaccard similarity ≥ `minJaccard`, restricted
    * to pairs sharing `blockCol` (blocking bounds the candidate space).
    *
    * Hot shingles (stopword-grams with huge postings) are the quadratic
    * risk at corpus scale: a shingle shared by d docs emits d²/2 join
    * rows. `maxDf` caps them — drops shingles shared by more than maxDf
    * docs before anything is counted.
    *
    * maxDf POLICY: 0 (the default) = no cap — exact Jaccard, correct for
    * oracle parity and for corpora up to ~1M docs per block. At corpus
    * scale ALWAYS set a cap; maxDf ≈ 100 × (expected duplicate-class
    * size) is a good operating point — it bounds the worst shingle's
    * pair emission at 100²/2 × classes while leaving real near-dup
    * evidence intact (a TRUE near-duplicate pair shares many shingles,
    * so losing its few stopword-grams barely moves |A∩B|/|A∪B|; the
    * shingles a cap removes are exactly the ones shared by *unrelated*
    * docs). The cap costs one map-side-combined count + a broadcast
    * anti-join + one window recount — nothing proportional to pair
    * volume.
    *
    * RESOURCE NOTE: the derived shingle table is pinned (both join
    * sides read it). This convenience form leaves the pinned blocks to
    * the ContextCleaner — they free at the GC after the result frame is
    * dropped; tight loops issuing many operator calls should use
    * `jaccardPairsWithHandle` and `release()` the handle after the
    * final action to free them immediately.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   blockCol: String, n: Int, minJaccard: Double,
                   maxDf: Int = 0): DataFrame =
    jaccardPairsWithHandle(docs, idCol, textCol, blockCol, n, minJaccard,
      maxDf)._1

  /** `jaccardPairs` plus the [[CacheHandle]] owning its pinned
    * shingle table.
    */
  def jaccardPairsWithHandle(docs: DataFrame, idCol: String,
                             textCol: String, blockCol: String, n: Int,
                             minJaccard: Double, maxDf: Int = 0)
      : (DataFrame, CacheHandle) = {
    val (counts, handle) =
      pairCountsWithHandle(docs, idCol, textCol, blockCol, n, maxDf)
    val pairs = counts
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
              (col("na") + col("nb") - col("n_common")), 6))
      .where(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("n_common"), col("jaccard"))
    (pairs, handle)
  }

  /** Asymmetric near-dup: shingle-set CONTAINMENT of the smaller doc in
    * the larger, `|A∩B| / min(|A|,|B|)`. Jaccard misses truncated /
    * excerpted copies (a doc fully contained in one 3× its size scores
    * J ≈ 0.33); containment scores it 1.0 — the right metric for
    * sub-document duplication (Broder's resemblance-vs-containment
    * distinction). Candidate generation, the maxDf cap, and the scale
    * shape are exactly [[jaccardPairs]]'s — one inverted-index
    * equi-join, never all-pairs. Same cache contract as `jaccardPairs`.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       blockCol: String, n: Int, minContainment: Double,
                       maxDf: Int = 0): DataFrame =
    pairCountsWithHandle(docs, idCol, textCol, blockCol, n, maxDf)._1
      .withColumn("containment",
        round(col("n_common").cast("double") /
              least(col("na"), col("nb")), 6))
      .where(col("containment") >= minContainment)
      .select(col("a"), col("b"), col("n_common"), col("containment"))

  /** Inter-SOURCE n-gram contamination matrix: Jaccard of each source
    * pair's distinct shingle sets (which crawls/feeds share boilerplate
    * or mirrored content). The unit is the source, not the document, so
    * the join is quadratic only in sources-per-shingle — bounded by
    * #sources, a domain contract at tens of sources.
    *
    * `maxDf` (max SOURCES per shingle) is the scale guard for when that
    * contract weakens: at thousands of sources, one boilerplate shingle
    * present everywhere pays the full #sources²/2 fan-in. The cap drops
    * shingles present in more than `maxDf` sources BEFORE set sizes are
    * counted (same self-consistent-universe policy as [[jaccardPairs]]):
    * jaccard is computed over the surviving universe, and the shingles a
    * cap removes are exactly the cross-source boilerplate the overlap
    * score should not reward. The cap is a size filter on the
    * per-shingle source SET the one aggregation already built —
    * nothing proportional to pair volume. 0 = no cap (exact; fine at
    * tens of sources).
    */
  def sourceOverlapMatrix(docs: DataFrame, sourceCol: String,
                          textCol: String, n: Int, maxDf: Int = 0)
      : DataFrame = {
    // ONE corpus shuffle (r19): collect_set(source) per shingle dedups
    // (source, shingle) AND carries the df in one aggregation — the
    // old distinct → groupBy-count → broadcast-anti-join → SELF-JOIN
    // chain evaluated the exploded corpus twice and shuffled the
    // (shingle, source) table three times (dedup exchange + both self-
    // join probes). The set is bounded by maxDf (or #sources), so the
    // aggregate's state is a handful of strings per shingle; pairs
    // come from exploding each kept shingle's sorted source set
    // directly (a < b by sort order) — the join-free form of the same
    // per-shingle df²/2 fan-in, output-bound exactly like the join.
    val perShingle = Spread(docs)
      .select(col(sourceCol).as("source"),
        explode(wordShingles(col(textCol), n)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(array_sort(collect_set(col("source"))).as("_ss"))
    val capped =
      if (maxDf > 0) perShingle.where(size(col("_ss")) <= maxDf)
      else perShingle
    // pinned, not persisted: the operator's result is lazy, so nothing
    // could ever unpersist a CacheManager entry — pin blocks are freed
    // by the ContextCleaner once the caller drops the result (the
    // Association lifetime rule; same everywhere an intermediate is
    // reused without a CacheHandle). One array row per kept shingle —
    // orders less pin footprint than the old (source, shingle) table.
    val sets = Components.pin(capped.select(col("_ss")),
      reliable = false)
    val sizes = sets.select(explode(col("_ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("_n"))
    // all a<b pairs of a sorted set: element i with every later element
    val shared = sets
      .select(explode(flatten(transform(col("_ss"), (x, i) =>
        transform(slice(col("_ss"), i + lit(2), size(col("_ss"))),
          y => array(x, y))))).as("_p"))
      .groupBy(col("_p")(0).as("src_a"), col("_p")(1).as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("_n").as("_na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("_n").as("_nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("_na") + col("_nb") - col("n_shared")).cast("double"),
          6).as("jaccard"))
  }

  /** TF-IDF sparse-cosine near-dup: pairwise cosine over per-doc
    * TF-IDF term vectors — the IR-weighted middle ground between
    * set-based Jaccard (ignores term frequency and rarity) and dense
    * embedding cosine (needs a model). Rare shared terms dominate the
    * score, so templated docs differing only in their distinctive
    * content separate cleanly.
    *
    * Scale shape: the same inverted-index discipline as
    * [[jaccardPairs]] — candidate pairs come from an equi-join on
    * (block, token), never all-pairs; `maxDf` drops hot (near-zero-idf)
    * tokens via a broadcast anti-join BEFORE the join, which both
    * bounds the posting-list blow-up and removes terms contributing
    * ~nothing to the score. N is a driver scalar (one count, same
    * contract as classTerms/centroids).
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       blockCol: String, minSim: Double,
                       maxDf: Int = 0): DataFrame = {
    // raw token rows, NOT shingleRows: shingle sets are per-doc
    // DISTINCT, which would erase the term-frequency half of TF-IDF
    val tf = Spread(docs)
      .select(col(idCol).as("id"), col(blockCol).as("blk"),
        explode(tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("id"), col("blk"), col("token"))
      .agg(count(lit(1)).as("_tf"))
    val n = docs.count().toDouble // driver scalar
    // document frequency by count-over-window (r18, the q94 rule): tf
    // has one row per (id, blk, token), so the token-partition row
    // count IS df. The old dfreq+broadcast-join form broadcast the
    // KEPT vocabulary — with a maxDf cap that is the non-hot MAJORITY
    // of the vocabulary, a corpus-scale broadcast, and the probe side
    // re-ran tf's post-shuffle aggregate. Filtering on the windowed
    // _df keeps the identical row set (the inner join matched every
    // tf row whose token survived the cap) with one token exchange.
    val tfd = tf.withColumn("_df", count(lit(1)).over(
      Window.partitionBy(col("token"))))
    val kept =
      if (maxDf > 0) tfd.where(col("_df") <= maxDf) else tfd
    // pinned, not persisted — see sourceOverlapMatrix's lifetime note
    val w = Components.pin(
      kept
        .withColumn("_w",
          col("_tf").cast("double") *
            log(lit(n) / col("_df").cast("double")))
        .select(col("id"), col("blk"), col("token"), col("_w")),
      reliable = false)
    val norm = w.groupBy(col("id"))
      .agg(sqrt(sum(col("_w") * col("_w"))).as("_n"))
    // hint("merge"): see symDeleteCands — exploded inverted-index
    // self-joins must never be planned as a broadcast off the
    // UN-exploded size estimate; sort-merge spills, a misjudged
    // broadcast OOMs
    val pairs = w.select(col("blk"), col("token"), col("id").as("a"),
        col("_w").as("_wa"))
      .hint("merge")
      .join(w.select(col("blk"), col("token"), col("id").as("b"),
        col("_w").as("_wb")), Seq("blk", "token"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("_wa") * col("_wb")).as("_dot"))
      .join(norm.select(col("id").as("a"), col("_n").as("_na")), "a")
      .join(norm.select(col("id").as("b"), col("_n").as("_nb")), "b")
      .withColumn("sim", round(col("_dot") / (col("_na") * col("_nb")), 6))
      .where(col("sim") >= minSim)
      .select(col("a"), col("b"), col("sim"))
    // the weight table is read 3× (both join sides + norms); pinned
    // with ContextCleaner-scoped blocks (same lifetime contract as
    // jaccardPairs' shingle table)
    pairs
  }

  /** Record linkage (entity resolution lite): unordered within-block
    * pairs whose `strCol` values sit within `maxDist` edit distance —
    * the misspelled-mirror / duplicate-account matcher. Levenshtein is
    * engine-portable (identical integers everywhere), so the oracle is
    * exact.
    *
    * SCALE CONTRACT: candidate generation is all-pairs WITHIN a block,
    * so blocks must be bounded (the classic record-linkage blocking
    * assumption — nation, zip prefix, name initial+length band…). Two
    * guards keep the quadratic term honest: the length-difference
    * pre-filter (|len(a)−len(b)| ≤ maxDist — a necessary condition that
    * prunes before the O(len²) distance evaluates), and the `a < b`
    * dedup. For unbounded blocks, compose a tighter key first; shingle
    * methods ([[jaccardPairs]]) are the right tool once strings become
    * documents.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        blockCol: String, maxDist: Int): DataFrame =
    if (maxDist <= 2) symDeletePairs(df, idCol, strCol, blockCol, maxDist)
    else blockedAllPairs(df, idCol, strCol, blockCol, maxDist)

  /** maxDist ≤ 2 path — SYMMETRIC DELETE (SymSpell): two strings are
    * within edit distance d iff their {self} ∪ {≤d-char-deletion}
    * neighborhoods intersect, so candidate generation becomes an
    * inverted-index equi-join on (block, deletion-key) — the jaccard
    * shape — instead of all-pairs within a block. Work distributes by
    * key hash, NOT by block count (an all-pairs block join serializes
    * each block's quadratic pair loop onto one task).
    *
    * Why the intersection property holds: take any ≤d edit script
    * a→b with i insertions, e deletions, s substitutions
    * (i+e+s ≤ d). Deleting from `a` the deleted+substituted positions
    * (e+s ≤ d deletions) and from `b` the inserted+substituted
    * positions (i+s ≤ d) leaves both at the script's common
    * subsequence — a shared key. False candidates (different deletions
    * colliding) are killed by the banded-levenshtein verification.
    *
    * Key fan-out per row: 1 + len at d=1; + C(len,2) at d=2 — the
    * classic SymSpell trade (short linkage strings: names, titles,
    * SKUs). For long strings shingle methods ([[jaccardPairs]]) are
    * the right tool; for d ≥ 3 the fan-out loses to [[blockedAllPairs]].
    */
  private def symDeletePairs(df: DataFrame, idCol: String,
                             strCol: String, blockCol: String,
                             maxDist: Int): DataFrame =
    symDeleteCands(df, idCol, strCol, blockCol, maxDist)
      .withColumn("dist", levenshtein(col("_sa"), col("_sb"), maxDist))
      .where(col("dist") >= 0)
      .select(col("a"), col("b"), col("dist"))

  /** [[editDistancePairs]]' typo-model sibling: pairs within
    * `maxDist` UNRESTRICTED DAMERAU-LEVENSHTEIN distance (adjacent
    * transposition costs 1 — see [[graft.functions.DamerauExpr]]),
    * the distance human typos actually live under. Same symmetric-
    * delete candidate generation: the delete-neighborhood
    * intersection property extends to transpositions (deleting either
    * transposed character from each side meets at a common key, one
    * deletion per side), so d deletions still cover DL ≤ d — the
    * standard SymSpell-with-DL contract. Verification runs the native
    * codegen DL kernel over candidates only; maxDist ≤ 2 by the same
    * fan-out trade as the levenshtein path.
    */
  def typoPairs(df: DataFrame, idCol: String, strCol: String,
                blockCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "typoPairs covers maxDist 1..2 (symdelete fan-out contract)")
    symDeleteCands(df, idCol, strCol, blockCol, maxDist)
      .withColumn("dist",
        call_function("graft_damerau", col("_sa"), col("_sb")))
      .where(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Typo-candidate pairs with a Jaro–Winkler CONFIDENCE attached:
    * candidate generation is [[typoPairs]]' symmetric-delete index
    * (exact cover of DL ≤ 1 within a block), the DL filter keeps the
    * cover tight, and `graft_jaro_winkler` scores each survivor on
    * the smooth [0,1] linkage scale a downstream clerical-review /
    * auto-merge threshold needs — the classic two-stage record-
    * linkage shape (cheap blocked generator, informative scorer).
    * Both kernels run inside one codegen stage over the candidate
    * rows; nothing here is ever corpus × corpus.
    */
  def jaroWinklerLinkage(df: DataFrame, idCol: String, strCol: String,
                         blockCol: String, minSim: Double): DataFrame = {
    symDeleteCands(df, idCol, strCol, blockCol, maxDist = 1)
      .where(call_function("graft_damerau",
        col("_sa"), col("_sb")) <= 1)
      .withColumn("jw", call_function("graft_jaro_winkler",
        col("_sa"), col("_sb")))
      .where(col("jw") >= minSim)
      .select(col("a"), col("b"), col("jw"))
  }

  private def symDeleteCands(df: DataFrame, idCol: String,
                             strCol: String, blockCol: String,
                             maxDist: Int): DataFrame = {
    val s = col("_s")
    // sequence() infers a NEGATIVE step when stop < start, so every
    // range is guarded by a length predicate instead of relying on
    // sequence(0, -1) being empty (it isn't — it's [0, -1]).
    val del1 = when(length(s) > 0,
      transform(sequence(lit(0), length(s) - 1), i =>
        concat(substring(s, lit(1), i),
               substring(s, i + lit(2), length(s)))))
      .otherwise(array().cast("array<string>"))
    // unordered position pairs i < j (0-based), both chars removed:
    // prefix [1..i], middle (i+2 .. j), suffix (j+2 ..)
    val del2 = when(length(s) > 1,
      flatten(transform(sequence(lit(0), length(s) - 2), i =>
        transform(sequence(i + lit(1), length(s) - 1), j =>
          concat(substring(s, lit(1), i),
                 substring(s, i + lit(2), j - i - 1),
                 substring(s, j + lit(2), length(s)))))))
      .otherwise(array().cast("array<string>"))
    val neighborhood =
      if (maxDist >= 2) array_union(array_union(array(s), del1), del2)
      else array_union(array(s), del1)
    val keys = Spread(df)
      .select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(strCol).as("_s"))
      .select(col("blk"), col("id"), col("_s"),
        explode(neighborhood).as("key"))
    // MERGE hint (forced sort-merge): Catalyst's size estimate for the
    // exploded key table is the un-exploded input's, but the deletion
    // neighborhood fans out 1+len+C(len,2) ≈ 170× for 18-char names —
    // the planner happily "broadcast" what materialized as a 5.1 GiB
    // hash relation at the 20× probe (observed: MemoryStore spilling
    // the broadcast to disk; an executor OOM on a real cluster), and a
    // SHUFFLE_HASH build of the same side OOMs the per-partition hash
    // map (also observed). The inverted-index self-join must always be
    // the spillable sort-merge, distributed by key hash.
    val cands = keys.select(col("blk"), col("key"), col("id").as("a"),
        col("_s").as("_sa"))
      .hint("merge")
      .join(keys.select(col("blk"), col("key"), col("id").as("b"),
        col("_s").as("_sb")), Seq("blk", "key"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("_sa"), col("_sb")).distinct()
    cands
  }

  /** maxDist ≥ 2 path — all-pairs within a block with a
    * length-difference pre-filter and THRESHOLD-BANDED (3-arg)
    * levenshtein: O(len·maxDist) with early exit instead of the full
    * O(len²) table, returning -1 past the threshold so one evaluation
    * serves filter and output. Blocks must be bounded (class doc).
    */
  private def blockedAllPairs(df: DataFrame, idCol: String,
                              strCol: String, blockCol: String,
                              maxDist: Int): DataFrame = {
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("a"),
      col(strCol).as("_sa"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("b"),
      col(strCol).as("_sb"))
    a.join(b, Seq("blk"))
      .where(col("a") < col("b") &&
        abs(length(col("_sa")) - length(col("_sb"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("_sa"), col("_sb"), maxDist))
      .where(col("dist") >= 0)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Shared candidate generation for the shingle-set pair family:
    * (a, b, na, nb, n_common) per unordered in-block pair with at least
    * one common surviving shingle. The score on top (Jaccard,
    * containment) is a pure projection — callers add it and filter.
    */
  private def pairCountsWithHandle(docs: DataFrame, idCol: String,
                                   textCol: String, blockCol: String,
                                   n: Int, maxDf: Int)
      : (DataFrame, CacheHandle) = {
    // Per-doc shingle SETS come in as arrays (zero shuffles, |A| =
    // size(array) — no window passes at all); the operator itself is the
    // inverted-index equi-join plus one aggregation. (A posting-list +
    // combinations formulation was measured 2× slower: materializing
    // |posting|² pair arrays allocates far more than the streamed shuffle
    // join, and AQE skew-handles the join for free.)
    //
    // the materialization is load-bearing twice over: both join sides
    // read the same derived table, and it absorbs the
    // `size(shingles) > 0` filter the explode pushes down (which would
    // otherwise re-derive the array at the scan). ~2× the text in size
    // — disk-backed at scale. Pinned, not persisted: blocks are
    // ContextCleaner-scoped (or freed NOW via the returned CacheHandle),
    // never a session-lifetime CacheManager entry.
    val arr = Components.pin(
      shingleArrays(docs, idCol, Seq(blockCol), textCol, n)
        .withColumnRenamed(idCol, "id").withColumnRenamed(blockCol, "blk")
        .withColumn("n_sh", size(col("shingles")).cast("long")),
      reliable = false)
    val shAll = arr.select(col("id"), col("blk"), col("n_sh"),
      explode(col("shingles")).as("shingle"))
    // the maxDf cap applies BEFORE set sizes are counted, so the capped
    // universe is self-consistent: jaccard = |A∩B|/|A∪B| over surviving
    // shingles (counting n_sh first would divide a capped intersection
    // by uncapped sizes and systematically underestimate). Hot shingles
    // are by definition FEW (a shingle shared by >maxDf docs), so the
    // cap is a map-side-combined count → tiny broadcast anti-join — it
    // never shuffles the shingle table itself; only the post-cap set
    // sizes need one window recount.
    val sh =
      if (maxDf > 0) {
        val hot = shAll.groupBy(col("blk"), col("shingle"))
          .agg(count(lit(1)).as("_df"))
          .where(col("_df") > maxDf)
          .select(col("blk"), col("shingle"))
        shAll.join(broadcast(hot), Seq("blk", "shingle"), "left_anti")
          .withColumn("n_sh",
            count(lit(1)).over(Window.partitionBy(col("id"))))
      } else shAll
    val a = sh.select(col("blk"), col("shingle"), col("id").as("a"),
                      col("n_sh").as("na"))
    val b = sh.select(col("blk"), col("shingle"), col("id").as("b"),
                      col("n_sh").as("nb"))
    // hint("merge"): see symDeleteCands — never broadcast an exploded
    // shingle index off its un-exploded size estimate
    val counts = a.hint("merge").join(b, Seq("blk", "shingle"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_common"))
    (counts, new CacheHandle(Seq(arr)))
  }

  /** Portable 60-bit hash of a shingle under seed `i`, as a LONG
    * (15 hex chars of md5, parsed base-16). min() over these is a valid
    * MinHash (any injective-ish hash works); md5 keeps it engine-exact
    * (`CAST('0x' || substr(md5(..)) AS BIGINT)` in DuckDB/ANSI).
    *
    * LONG, not the hex string, on purpose: string min() buffers are
    * immutable, which forces the signature groupBy into SortAggregate —
    * two extra sorts over the exploded shingle rows (observed in the
    * plan). A long min() hash-aggregates. Consecutive seed pairs share
    * one md5 invocation (independent 15-hex ranges of md5(shingle#⌊i/2⌋))
    * — halves the hashing cost of a k-wide signature, the dominant cost
    * of MinHash at corpus scale.
    */
  def seededHash(shingle: Column, seed: Int): Column =
    // native 60-bit-prefix kernel (r19): value-identical to
    // conv(substring(md5(..), pos, 15), 16, 10) cast bigint, minus the
    // hex round-trip per (shingle, seed-pair) — see Md5Long60Expr
    call_function("graft_md5_long60",
      concat(shingle, lit("#" + seed / 2)), lit(1 + 16 * (seed % 2)))

  /** MinHash signature: one column `mh0..mh{k-1}` per seed, computed in a
    * single groupBy (k map-side partial mins — one shuffle of k×16B/doc).
    *
    * `explode_outer` is deliberate: a plain explode gets an inferred
    * `size(shingles) > 0` filter pushed below the projection, re-deriving
    * the whole shingle array a second time at the scan; outer generates
    * get no such filter. Zero-shingle docs surface as one NULL-shingle
    * row → all-NULL mins, dropped after the aggregate (one cheap filter
    * on #docs rows) — same semantics as the round-1 row formulation,
    * which emitted no rows for them.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int): DataFrame = {
    val sh = shingleArrays(docs, idCol, Seq.empty, textCol, shingleN)
      .select(col(idCol), explode_outer(col("shingles")).as("shingle"))
    val aggs = (0 until k).map(i =>
      min(seededHash(col("shingle"), i)).as(s"mh$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .where(col("mh0").isNotNull)
  }

  /** LSH banding over a k-wide signature: `bands` bands of k/bands rows;
    * band hash = md5 of the comma-joined minhashes. Docs sharing any
    * (band, band_hash) are candidate near-duplicates.
    * Returns (id [+ passthrough cols], band, band_hash) — the ONE
    * banding definition, shared with minhashCandidatePairs (which passes
    * the packed signature through so buckets can score pairs in place).
    */
  def lshBands(sigs: DataFrame, idCol: String, k: Int, bands: Int,
               passthrough: Seq[String] = Seq.empty): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until r).map(i => col(s"mh${b * r + i}")): _*))
          .as("band_hash"))
    }
    val keep = col(idCol) +: passthrough.map(col)
    sigs.select(keep :+ explode(array(bandCols: _*)).as("bh"): _*)
      .select(keep :+ col("bh.band").as("band")
        :+ col("bh.band_hash").as("band_hash"): _*)
  }

  /** Candidate pairs from LSH banding + estimated Jaccard =
    * (matching minhash components) / k.
    *
    * Single-pipeline formulation: the signature array rides along into
    * the banding groupBy, so each LSH bucket holds (id, sig) co-located
    * and emits its ordered pairs WITH the component-match count directly
    * — no band self-join, no joins back to the signature table, no
    * cached intermediate (the round-1 shape was 3 joins + a cache read
    * 3×). Shuffle cost: bands × k × 16 B per doc (the sig replicated per
    * band) vs the join shape's 2 sig shuffles + 3 candidate-pair
    * shuffles — strictly fewer stages, and bucket posting lists are tiny
    * by construction (that is the LSH premise), so the per-bucket pair
    * expression never materializes large arrays. A hot bucket (many docs
    * sharing a band hash) is inherently quadratic in ANY formulation —
    * cap it upstream via shingle maxDf if the corpus has degenerate
    * near-identical masses.
    */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int, k: Int, bands: Int): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, shingleN, k)
      .withColumn("sig", array((0 until k).map(i => col(s"mh$i")): _*))
    val exploded = lshBands(sigs, idCol, k, bands, passthrough = Seq("sig"))
      .withColumnRenamed(idCol, "id")
    val buckets = exploded.groupBy(col("band"), col("band_hash"))
      .agg(sort_array(collect_list(struct(col("id"), col("sig")))).as("ds"))
      .where(size(col("ds")) > 1)
    // ordered pairs (i < j over the id-sorted bucket ⇒ a < b) with the
    // match count computed from the co-located signatures
    val d = col("ds")
    def docAt(i: Column): Column = element_at(d, i + 1)
    // match count via the fused graft_eq_count kernel: the HOF form
    // (aggregate over zip_with) pays k interpreted lambda dispatches +
    // an intermediate array PER PAIR, and the heavy-duplication regime
    // emits tens of millions of pairs (minhash100x probe); semantics
    // pinned equal in EqCountExpr's scaladoc + KernelPropertySpec
    val pairsExpr = flatten(transform(sequence(lit(0), size(d) - 2), i =>
      transform(sequence(i + 1, size(d) - 1), j =>
        struct(
          docAt(i).getField("id").as("a"),
          docAt(j).getField("id").as("b"),
          call_function("graft_eq_count", docAt(i).getField("sig"),
            docAt(j).getField("sig")).as("m")))))
    // explode_outer for the same inferred-filter reason as above (every
    // bucket here has ≥ 2 docs ⇒ ≥ 1 pair, so outer adds no NULL rows)
    buckets.select(explode_outer(pairsExpr).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.m").as("m"))
      .distinct()
      .select(col("a"), col("b"),
        round(col("m").cast("double") / k, 6).as("est_jaccard"))
  }

  /** Winnowing fingerprints (the MOSS rolling-window scheme, Schleimer/
    * Wilkerson/Aiken 2003): hash every POSITIONAL k-gram to a 60-bit
    * long, slide a window of `w` consecutive hashes, keep each window's
    * minimum, and return the distinct selected values per doc. The
    * guarantee: two docs sharing any run of ≥ w+k-1 tokens share a
    * fingerprint — so unlike whole-document Jaccard/MinHash this catches
    * PARTIAL containment (a paragraph lifted into an otherwise-different
    * doc). Whole derivation is per-doc array expressions in the scan
    * stage — zero shuffles.
    *
    * Docs with fewer than w k-grams contribute one fingerprint (the min
    * over what exists); empty docs contribute none.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String,
                         extraCols: Seq[String], textCol: String,
                         k: Int, w: Int): DataFrame = {
    val keep = col(idCol) +: extraCols.map(col)
    // the whole k-gram → hash → window-min → distinct chain is ONE
    // native per-row call (graft.functions.WinnowKernel) — the
    // composable transform/array_min/slice form pays two interpreted
    // lambdas per element on the dedup hot path
    Spread(docs)
      .select(keep :+ tokens(col(textCol)).as("_toks"): _*)
      .select(keep :+
        call_function("graft_winnow", col("_toks"), lit(k), lit(w))
          .as("fps"): _*)
  }

  /** Candidate pairs sharing any winnowed fingerprint within a blocking
    * key, with the shared-fingerprint count — the same inverted-index
    * equi-join shape as jaccardPairs, but over the winnowed SUBSET of
    * k-gram hashes (w× fewer rows through the join, and containment
    * sensitivity instead of whole-document similarity).
    *
    * `maxDf` caps hot fingerprints exactly like jaccardPairs' shingle
    * cap: a boilerplate run (shared license header) winnowing to the
    * same fingerprint in d docs emits d²/2 join rows for that one fp.
    * Same policy applies (0 = exact/off; at corpus scale set ~100 ×
    * expected duplicate-class size); implemented as the same
    * map-side-combined count → tiny broadcast anti-join.
    *
    * Pins the fingerprint table (both join sides read it); its blocks
    * are left to the ContextCleaner, as in `jaccardPairs`.
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  blockCol: String, k: Int, w: Int,
                  maxDf: Int = 0): DataFrame = {
    val fps = Components.pin(
      winnowFingerprints(docs, idCol, Seq(blockCol), textCol, k, w)
        .withColumnRenamed(idCol, "id").withColumnRenamed(blockCol, "blk"),
      reliable = false)
    val eAll = fps.select(col("blk"), col("id"),
      explode(col("fps")).as("fp"))
    val e =
      if (maxDf > 0) {
        val hot = eAll.groupBy(col("blk"), col("fp"))
          .agg(count(lit(1)).as("_df"))
          .where(col("_df") > maxDf)
          .select(col("blk"), col("fp"))
        eAll.join(broadcast(hot), Seq("blk", "fp"), "left_anti")
      } else eAll
    val a = e.select(col("blk"), col("fp"), col("id").as("a"))
    val b = e.select(col("blk"), col("fp"), col("id").as("b"))
    // hint("merge"): see symDeleteCands — exploded fingerprint index,
    // same misjudged-broadcast hazard
    a.hint("merge").join(b, Seq("blk", "fp"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** SimHash near-duplicate pairs with Hamming distance ≤ `maxHamming`
    * (1..3): pigeonhole banding over the 64-bit signature's four 16-bit
    * bands — two signatures within Hamming distance 3 must agree exactly
    * on at least one band, so candidates come from an equi-join on
    * (band, band value), then the exact popcount filter runs on the
    * co-located signatures. Never all-pairs; the signature (four 16-bit
    * values = 8 bytes) rides the banding shuffle like MinHash's does.
    *
    * SCALE: each band has 2¹⁶ values, so band buckets at corpus scale
    * hold ~|corpus|/65536 docs and the candidate join stays linear-ish.
    * The 16-bit/2×8-bit predecessor had only 256 values per band, so
    * its buckets saturated at ~10⁵ docs; SimhashSaturationSpec measures
    * the bucket-width effect directly (16-bit vs 8-bit banding of the
    * same signatures on the 10× corpus). Need Hamming > 3? Add bands
    * (b bands of 64/b bits pigeonhole Hamming ≤ b−1) — the operator
    * shape is unchanged.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 3,
      "64-bit simhash with 4 bands pigeonholes maxHamming in 1..3")
    val sh = simhash(docs, idCol, textCol)
      .select(col(idCol).as("id") +: (0 to 3).map(j => col(s"s$j")): _*)
    val banded = sh.select(
        (col("id") +: (0 to 3).map(j => col(s"s$j"))) :+
          explode(array((0 to 3).map(j =>
            struct(lit(j).as("band"), col(s"s$j").as("v"))): _*)).as("bv"): _*)
      .select((col("id") +: (0 to 3).map(j => col(s"s$j"))) :+
        col("bv.band").as("band") :+ col("bv.v").as("v"): _*)
    val a = banded.select(col("band") +: col("v") +: col("id").as("a") +:
      (0 to 3).map(j => col(s"s$j").as(s"a$j")): _*)
    val b = banded.select(col("band") +: col("v") +: col("id").as("b") +:
      (0 to 3).map(j => col(s"s$j").as(s"b$j")): _*)
    val ham = (0 to 3)
      .map(j => bit_count(col(s"a$j").bitwiseXOR(col(s"b$j"))))
      .reduce(_ + _)
    // hint("merge"): see symDeleteCands — banded self-join, same
    // misjudged-broadcast hazard (4× band fan-out off an aggregate
    // whose size estimate is heuristic)
    a.hint("merge").join(b, Seq("band", "v"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), ham.cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** SORTED-NEIGHBORHOOD near-dup (the record-linkage "sorted blocking"
    * method): order the corpus by its 64-bit SimHash and compare each
    * document only against the next `window`−1 documents in that order,
    * keeping pairs within `maxHamming`. Complements [[simhashPairs]]'
    * band blocking: banding guarantees recall for hamming ≤ 3 but its
    * bucket sizes follow the data; the sorted window spends EXACTLY
    * (window−1)·N comparisons regardless of skew — a fixed, budgetable
    * candidate count (recall is best-effort for dups whose signatures
    * sort far apart, the classic trade of the method).
    *
    * SCALE SHAPE: one range-sort to a global position
    * ([[Ordering.withGlobalIndex]] — zipWithIndex, never a
    * single-partition window), then the neighbor pairing is an
    * EQUI-join on (position + offset) with offsets exploded 1..w−1 —
    * hash-distributed, no window function over the corpus, no
    * quadratic term anywhere.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              textCol: String, window: Int,
                              maxHamming: Int): DataFrame = {
    require(window >= 2, "window must pair each doc with >= 1 neighbor")
    val sh = simhash(docs, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash_hex"),
        col("s0"), col("s1"), col("s2"), col("s3"))
    val idx = Ordering.withGlobalIndex(sh,
      Seq(col("simhash_hex"), col("id")), "pos")
    val l = idx.select(col("pos") +: col("id").as("a") +:
        (0 to 3).map(j => col(s"s$j").as(s"a$j")) :+
        explode(sequence(lit(1), lit(window - 1))).as("_off"): _*)
      .select((col("pos") + col("_off")).as("rpos") +: col("a") +:
        (0 to 3).map(j => col(s"a$j")): _*)
    val r = idx.select(col("pos").as("rpos") +: col("id").as("b") +:
      (0 to 3).map(j => col(s"s$j").as(s"b$j")): _*)
    val ham = (0 to 3)
      .map(j => bit_count(col(s"a$j").bitwiseXOR(col(s"b$j"))))
      .reduce(_ + _)
    l.join(r, "rpos")
      .select(col("a"), col("b"), ham.cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash per document, computed by the fused native
    * `graft_simhash` kernel in ONE zero-shuffle scan-stage pass: token
    * md5s, the 64 ±1 bit sums and the majority threshold never leave
    * the row. (The previous formulation exploded |tokens| rows and
    * map-side-combined 64 sum() buffers through a groupBy exchange —
    * measured ~2× slower at sf0.1 and strictly worse at scale, where
    * the exchange carries |corpus|×|tokens| rows.) Values are
    * bit-identical: one md5 per token supplies all 64 bits (2 bits per
    * hex char — `TextAnalysis.simhashBitContribution` remains the
    * portable per-bit template the oracle reproduces, and
    * `SimHashKernelSpec` pins kernel ≡ exploded-form equality). Band
    * values `s0..s3` (s0 = bits 0-15, …) stay INTs so any engine
    * reproduces them without 64-bit shifts.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withSig = Spread(docs).select(col(idCol),
      call_function("graft_simhash", tokens(col(textCol))).as("_sig"))
    val bands = (0 to 3).map { j =>
      shiftright(col("_sig"), 16 * j).bitwiseAND(lit(0xffffL))
        .cast("int").as(s"s$j")
    }
    withSig.select(col(idCol) +: bands: _*)
      .withColumn("simhash_hex", format_string("%04x%04x%04x%04x",
        col("s3"), col("s2"), col("s1"), col("s0")))
  }

  /** Benchmark contamination per training document: (idCol,
    * n_shared_grams) for every training doc sharing at least one
    * `n`-token shingle with the benchmark/eval corpus — the n-gram
    * overlap rule LLM training pipelines use to keep eval sets out of
    * the training data.
    *
    * SCALE SHAPE: the benchmark side is small by nature (eval suites
    * are a few thousand documents next to a multi-TB corpus), so its
    * distinct shingle set is BROADCAST and the contamination test is a
    * map-side broadcast semi-join running in the training corpus's scan
    * stage — the corpus itself never shuffles; only the matched
    * (id, shingle) hits (bounded by contaminated-doc volume) cross the
    * counting exchange. Docs with fewer than `n` tokens cannot share an
    * n-gram and are never contaminated.
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val benchGrams = shingleRows(bench, idCol, Seq.empty, textCol, n)
      .select(col("shingle")).distinct()
    shingleRows(train, idCol, Seq.empty, textCol, n)
      .join(broadcast(benchGrams), Seq("shingle"), "left_semi")
      // shingleRows emits DISTINCT shingles per doc, so this counts the
      // distinct grams the doc shares with the benchmark set
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** REPEATED-SPAN detection — the distributed shape of ExactSubstr
    * dedup ("Deduplicating Training Data Makes Language Models
    * Better", Lee et al., ACL 2022): exact token spans of length ≥ `n`
    * occurring in `minDf`-or-more DISTINCT documents are
    * memorization fuel even when the documents as wholes are unique
    * (within-doc repetition is [[TextAnalysis.repetitionSignals]]'
    * half). The paper's corpus-wide suffix array doesn't distribute;
    * this composition does, exactly: any repeated span of ≥ n tokens
    * is covered precisely by its constituent repeated n-grams, so
    * marking every gram position whose document frequency ≥ minDf and
    * coalescing overlapping-or-adjacent marks per document (the
    * sessionize gaps-and-islands shape on token offsets) recovers the
    * maximal repeated extents at n-gram resolution. Returns
    * (idCol, span_start, span_end, span_tokens), 1-based inclusive
    * token offsets — downstream cuts the spans or drops the docs.
    *
    * SCALE SHAPE: gram DF shuffles md5(gram) 16-byte keys (the
    * [[exactDedupClasses]] fingerprint-weight argument — never the
    * n-token strings, never the documents); the mark join is id+pos
    * ints; the islands window partitions per doc over marked positions
    * only. Nothing is quadratic: a gram in d docs contributes d mark
    * rows, not d² pairs.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, minDf: Long): DataFrame = {
    require(n >= 2 && minDf >= 2, "need n ≥ 2 and minDf ≥ 2")
    val grams = Spread(docs)
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .where(size(col("_t")) >= n) // guard: sequence(1, m≤0) counts DOWN
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(1), size(col("_t")) - (n - 1)),
          i => md5(array_join(slice(col("_t"), i, lit(n)), " "))))
          .as(Seq("_p0", "_gh")))
      .select(col(idCol), (col("_p0") + 1).cast("int").as("_pos"),
        col("_gh"))
    // distinct-doc frequency by two stacked windows on ONE _gh
    // exchange (r18, the q94 rule): the countDistinct aggregate +
    // left-semi form re-ran the md5 n-gram explode on the probe side
    // and broadcast the repeated-gram set — which is every duplicated
    // gram in the corpus, NOT a small relation at scale. (_gh, id,
    // _pos) is unique by construction, so the first-row flag per
    // (_gh, id) summed over the _gh partition IS the distinct-doc
    // count; both windows sort once by (_gh, id, _pos).
    val wGId = Window.partitionBy(col("_gh"), col(idCol))
      .orderBy(col("_pos"))
    val wG = Window.partitionBy(col("_gh"))
    val marks = grams
      .withColumn("_first",
        when(row_number().over(wGId) === 1, 1L).otherwise(0L))
      .withColumn("_df", sum(col("_first")).over(wG))
      .where(col("_df") >= minDf)
      .select(col(idCol), col("_pos").as("s"),
        (col("_pos") + (n - 1)).cast("int").as("e"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"))
    marks
      .withColumn("_pmax", max(col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new",
        when(col("_pmax").isNull || col("s") > col("_pmax") + 1, 1)
          .otherwise(0))
      .withColumn("_isl", sum(col("_new")).over(w))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** GRADED contamination — [[contamination]]'s binary flag made a
    * rate: (idCol, n_grams, n_shared_grams, contamination_rate) for
    * EVERY training doc with at least `n` tokens (rate 0 when clean).
    * The drop decision belongs downstream: real pipelines run graded
    * rules ("drop ≥ 0.8, audit 0.2–0.8, keep below"), not an
    * any-overlap kill switch — [[decontaminate]] stays the strict
    * form.
    *
    * SCALE SHAPE: same broadcast benchmark-gram set as
    * [[contamination]], except as a LEFT join with a hit marker so the
    * per-doc total and shared counts come out of ONE aggregate over
    * ONE scan-stage pass — the corpus never shuffles more than its
    * (id, shingle) rows into the counting exchange.
    */
  def contaminationScore(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int): DataFrame = {
    val benchGrams = shingleRows(bench, idCol, Seq.empty, textCol, n)
      .select(col("shingle")).distinct().withColumn("_hit", lit(1))
    shingleRows(train, idCol, Seq.empty, textCol, n)
      .join(broadcast(benchGrams), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(col("_hit")).as("n_shared_grams"))
      .withColumn("contamination_rate",
        round(col("n_shared_grams").cast("double") / col("n_grams"), 6))
  }

  /** The surviving training rows: `train` minus every document
    * [[contamination]] flags. The anti-join's contaminated side is
    * usually tiny (AQE turns it into a broadcast anti-join at runtime);
    * when a benchmark genuinely contaminates a large fraction of the
    * corpus the shuffled fallback is the correct plan anyway.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    train.join(contamination(train, bench, idCol, textCol, n),
      Seq(idCol), "left_anti")

  /** [[contamination]] behind a Bloom prefilter — EXACTLY the same
    * result (the Bloom filter only prunes; the confirming semi-join
    * removes its false positives), different scale shape: when the
    * benchmark shingle set is too big to broadcast outright (~10⁸
    * grams), a Bloom filter at ~8 bits/gram is 100× smaller than the
    * string set, ships to every task as one binary literal, and kills
    * the overwhelmingly-non-matching corpus shingles in the SCAN stage
    * — so the confirming join (deliberately NOT broadcast-hinted; it
    * shuffles only Bloom survivors) touches a tiny fraction of the
    * corpus. The one-row filter aggregate is collected and inlined as a
    * literal (Catalyst requires the probe's filter side foldable) — the
    * same small-by-contract driver-side step as IVF's centroid collect.
    */
  def bloomContamination(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         expectedItems: Long = 100000L,
                         numBits: Long = 800000L): DataFrame = {
    val bg = shingleRows(bench, idCol, Seq.empty, textCol, n)
      .select(col("shingle")).distinct()
    val bfBytes = bg
      .agg(call_function("graft_bloom_agg", xxhash64(col("shingle")),
        lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val tg = shingleRows(train, idCol, Seq.empty, textCol, n)
    // an empty benchmark aggregates to a NULL filter — nothing can be
    // contaminated (a NULL probe would also drop every row; this is
    // just the explicit spelling)
    val pre =
      if (bfBytes == null) tg.where(lit(false))
      else tg.where(call_function("graft_might_contain", lit(bfBytes),
        xxhash64(col("shingle"))))
    pre.join(bg, Seq("shingle"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Near-duplicate NOVELTY GATE: keep only `incoming` docs whose
    * 64-bit simhash matches the indexed corpus in NONE of the 4 16-bit
    * bands — the admit/drop decision an ingestion pipeline makes
    * against the corpus it has already accepted. By the pigeonhole
    * rule this drops every doc within hamming distance 3 of an indexed
    * doc (plus band-collision false drops — a gate prefers over-drop
    * to letting duplicates through; run the exact-hamming batch pass
    * ([[simhashPairs]]) where precision matters).
    *
    * STREAM-SAFE BY CONSTRUCTION: the incoming side needs only a
    * scan-stage signature expression and `64/bandBits` broadcast
    * anti-joins — no state, no stream shuffle, so `incoming` may be a
    * streaming DataFrame (the q83 shape). Each band's distinct-value
    * table is bounded at 2^bandBits rows by the band value space —
    * broadcastable no matter how big the index corpus grows (16-bit
    * default: ≤ 65,536 rows per band).
    *
    * BAND-WIDTH TRADE (`bandBits`): b bands of 64/b bits pigeonhole
    * Hamming ≤ b−1, and a band SATURATES as the index approaches
    * 2^bandBits distinct values (the gate then over-drops everything).
    *  - 16 (default): 4 bands, drops Hamming ≤ 3, saturates ~64Ki
    *    distinct band values — right for per-shard indexes.
    *  - 32: 2 bands, drops Hamming ≤ 1 only, but the band space is
    *    2³² — effectively saturation-free; the scale setting when the
    *    index shard outgrows 64Ki and near-exact dedup suffices.
    *  - 8: 8 bands, drops Hamming ≤ 7 (aggressive), saturates at 256 —
    *    only for tiny curated indexes.
    * Partition-sharded gates (one index per corpus shard) remain the
    * deployed shape when both wide bands and big shards are needed.
    */
  def simhashNoveltyGate(incoming: DataFrame, index: DataFrame,
                         idCol: String, textCol: String,
                         bandBits: Int = 16): DataFrame = {
    require(Set(8, 16, 32).contains(bandBits),
      s"bandBits must be 8, 16, or 32; got $bandBits")
    val bands = 64 / bandBits
    val mask = (1L << bandBits) - 1L
    def bandVal(sig: org.apache.spark.sql.Column, j: Int) =
      shiftright(sig, bandBits * j).bitwiseAND(lit(mask))
    val sig = call_function("graft_simhash", tokens(col(textCol)))
    val withBands = (0 until bands)
      .foldLeft(incoming.withColumn("_sig", sig)) { (d, j) =>
        d.withColumn(s"_b$j", bandVal(col("_sig"), j))
      }
    // pinned: each band's distinct build side below derives from the
    // index signatures, and without the cache every one of the `bands`
    // broadcast builds re-tokenizes and re-md5s the WHOLE index corpus
    // (the same recompute the hyperplane band self-join fixed). Cached
    // form is 8 B/doc of longs — disk-backed at scale. Pin, not
    // persist: blocks are ContextCleaner-scoped (freed when the gated
    // frame is dropped), not session-lifetime CacheManager entries
    // nothing ever releases.
    val idxSig = Components.pin(
      Spread(index)
        .select(call_function("graft_simhash", tokens(col(textCol)))
          .as("_isig")),
      reliable = false)
    val gated = (0 until bands).foldLeft(withBands) { (d, j) =>
      val bandVals = idxSig.select(bandVal(col("_isig"), j).as(s"_v$j"))
        .distinct()
      d.join(broadcast(bandVals), d(s"_b$j") === bandVals(s"_v$j"),
        "left_anti")
    }
    // hex rendering stays 4×16-bit regardless of gating band width
    // (presentation parity with simhash()'s s0..s3 pieces)
    val hexPieces = (3 to 0 by -1).map(j =>
      shiftright(col("_sig"), 16 * j).bitwiseAND(lit(0xffffL)).cast("int"))
    gated
      .withColumn("simhash_hex",
        format_string("%04x%04x%04x%04x", hexPieces: _*))
      .drop("_sig" +: (0 until bands).map(j => s"_b$j"): _*)
  }

  /** SOURCE-level MinHash sketch + pairwise similarity estimate: one
    * k-wide signature per corpus source (the same md5-seeded min
    * family as [[minhashSignatures]], GROUPED BY SOURCE — `min` is a
    * commutative monoid, so the per-source signature is a MERGEABLE
    * SKETCH: shard-local signatures combine by component-wise min,
    * which is exactly what the map-side partial aggregation does),
    * then estimated Jaccard between every source pair = matching
    * components / k.
    *
    * This is the "how much do my crawl sources overlap" report at
    * sketch cost: each source is reduced to k longs regardless of
    * corpus size, so the pairwise stage touches #sources² SIGNATURES,
    * never documents — at 100 TB the corpus pass is one map-side-
    * combined aggregate and the comparison is driver-trivial. The
    * EXACT counterpart (true shingle-set overlap, quadratic in the
    * posting lists) is [[sourceOverlapMatrix]]; this is its
    * fixed-size-sketch estimate. The pair join is a broadcast
    * nested-loop by construction — the signature table has one row
    * per SOURCE (a bounded catalog, not data).
    *
    * Returns (src_a, src_b, matches, est_jaccard) for a < b.
    */
  def sourceMinhashSim(docs: DataFrame, sourceCol: String,
                       textCol: String, shingleN: Int, k: Int)
      : DataFrame = {
    val sigs = minhashSignatures(docs, sourceCol, textCol, shingleN, k)
    val a = sigs.select(col(sourceCol).as("src_a") +:
      (0 until k).map(i => col(s"mh$i").as(s"_a$i")): _*)
    val b = sigs.select(col(sourceCol).as("src_b") +:
      (0 until k).map(i => col(s"mh$i").as(s"_b$i")): _*)
    val matches = (0 until k)
      .map(i => when(col(s"_a$i") === col(s"_b$i"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .withColumn("matches", matches.cast("long"))
      .select(col("src_a"), col("src_b"), col("matches"),
        round(col("matches").cast("double") / k, 6).as("est_jaccard"))
  }
}
