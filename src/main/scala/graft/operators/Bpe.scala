package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BPE tokenizer-training merge loop (Sennrich et al., ACL 2016): start
  * from characters, repeatedly find the most frequent adjacent symbol
  * pair and merge it, emitting the merge table a tokenizer ships with.
  * The vocabulary operator ([[TextAnalysis.vocabulary]], q76) produces
  * this loop's input; this is the training step on top of it.
  *
  * SCALE SHAPE: the only corpus-sized job is the word-frequency
  * aggregate (one map-side-combined count over the tokenized corpus —
  * the q76 shape). Everything after runs on the DISTINCT-VOCABULARY
  * symbol table, (word, freq, pos, sym) with Σ|word| rows — millions of
  * rows for a billion-document corpus, not billions: BPE training state
  * is vocabulary-sized by construction, which is why single-machine
  * trainers exist at all; the distributed win is fusing the corpus
  * count into the same engine and keeping the merge loop deterministic.
  * Per round: one lead() window pass, one hash aggregate, a 1-row
  * TakeOrderedAndProject for the argmax, and two (word,pos) equi-joins
  * to apply the merge — every frame pinned with an eager
  * `localCheckpoint` so the iterative plan stays O(1) (the
  * [[Components]] lineage discipline; plan growth across rounds is the
  * same OOM class the closure loop hit in round 4).
  *
  * GREEDY SEMANTICS (both engines replay them exactly): pair counts
  * include overlapping occurrences ("aaa" counts (a,a) twice — the
  * reference get_stats behavior); application is greedy left-to-right,
  * so within a run of L consecutive matches (only possible when a = b)
  * the 1st, 3rd, 5th… merge and "aaaa" becomes "aa","aa". Implemented
  * distributed as: match positions → consecutive-run grouping
  * (pos − row_number) → keep odd offsets within each run. The argmax
  * tie-break is (count DESC, a ASC, b ASC) — binary string order, the
  * same in Spark UTF8String and ANSI collation.
  */
object Bpe {

  /** The word-frequency table BPE trains on: whitespace tokens of the
    * normalized text, counted corpus-wide (the one corpus-sized job).
    */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** The shared training loop: runs `nMerges` rounds and returns the
    * per-round winner frames (pinned, 1 row each) plus the FINAL symbol
    * table (pinned). The caller owns releasing whichever half its
    * output does not reference ([[bpeMerges]] keeps the winners,
    * [[encodedVocab]] keeps the state).
    *
    * Rounds pin through [[Components.pin]]: `reliable = false` uses
    * executor-local checkpoints (a lost executor loses the run),
    * `reliable = true` writes rounds to the context checkpoint
    * directory (must be set). Each superseded symbol table is freed
    * eagerly with [[Components.releasePin]] once the next round's pin
    * has materialized — `nMerges` can be thousands, and dead tables
    * would otherwise wait on the ContextCleaner's GC cadence.
    */
  private def trainLoop(words: DataFrame, wordCol: String, freqCol: String,
                        nMerges: Int, reliable: Boolean)
      : (Seq[DataFrame], DataFrame) = {
    require(nMerges >= 1, "need at least one merge round")
    // initial state: one row per (word, char position). The
    // length > 0 guard matters: Spark's sequence(start, stop) COUNTS
    // DOWN when start > stop, so an empty word would yield positions
    // [1, 0] — two phantom empty-string symbols whose ("","") pair
    // could win a merge round. The reference algorithm sees no pair
    // at all for an empty word.
    var state = Components.pin(words
      .select(col(wordCol).as("word"), col(freqCol).as("freq"))
      .where(length(col("word")) > 0)
      .select(col("word"), col("freq"),
        posexplode(transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1)))).as(Seq("_p", "sym")))
      .select(col("word"), col("freq"),
        (col("_p") + 1).cast("int").as("pos"), col("sym")), reliable)
    val wWin = Window.partitionBy(col("word")).orderBy(col("pos"))
    val bests = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val withNext = state.withColumn("nxt", lead(col("sym"), 1).over(wWin))
      val best = Components.pin(withNext.where(col("nxt").isNotNull)
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1), reliable)
      if (best.isEmpty) {
        exhausted = true
        Components.releasePin(best, reliable)
      }
      else {
        bests += best.select(lit(round + 1).as("merge_rank"),
          col("a").as("left_sym"), col("b").as("right_sym"),
          col("cnt").as("pair_count"))
        // match positions of (a, b); greedy left-to-right = odd offsets
        // within each consecutive-position run (runs only arise for a=b)
        val mt = withNext
          .join(broadcast(best),
            col("sym") === col("a") && col("nxt") === col("b"))
          .select(col("word"), col("pos"))
        val keep = mt
          .withColumn("rid", col("pos") - row_number().over(wWin))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("word"), col("rid")).orderBy(col("pos"))))
          .where(col("rn") % 2 === 1)
          .select(col("word"), col("pos"))
        val hit = keep.withColumn("_hit", lit(1))
        val absorbed = keep.select(col("word"),
          (col("pos") + 1).as("pos"), lit(1).as("_drop"))
        val mergedSym = best.select(concat(col("a"), col("b")).as("_msym"))
        val prev = state
        state = Components.pin(state
          .join(hit, Seq("word", "pos"), "left")
          .join(absorbed, Seq("word", "pos"), "left")
          .where(col("_drop").isNull)
          .crossJoin(broadcast(mergedSym))
          .withColumn("_sym2",
            when(col("_hit") === 1, col("_msym")).otherwise(col("sym")))
          .withColumn("_npos", row_number().over(wWin).cast("int"))
          .select(col("word"), col("freq"), col("_npos").as("pos"),
            col("_sym2").as("sym")), reliable)
        Components.releasePin(prev, reliable) // next pin materialized
      }
      round += 1
    }
    (bests.toSeq, state)
  }

  /** `nMerges` BPE merges over a (word, freq) table: returns
    * (merge_rank, left_sym, right_sym, pair_count), merge_rank 1-based
    * in training order. Stops early if the vocabulary runs out of
    * adjacent pairs (every word fully merged).
    */
  def bpeMerges(words: DataFrame, wordCol: String, freqCol: String,
                nMerges: Int, reliable: Boolean = false): DataFrame = {
    val spark = words.sparkSession
    val (bests, state) = trainLoop(words, wordCol, freqCol, nMerges,
      reliable)
    Components.releasePin(state, reliable) // merge table unions bests
    if (bests.isEmpty) {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("merge_rank", IntegerType, nullable = false),
          StructField("left_sym", StringType), StructField("right_sym", StringType),
          StructField("pair_count", LongType))))
    } else bests.reduce(_ unionByName _).orderBy(col("merge_rank"))
  }

  /** ENCODE — the vocabulary after `nMerges` trained merges: one row
    * per word with its BPE symbol sequence, (word, n_syms, encoded)
    * where `encoded` is the space-joined symbols in position order.
    * This IS the tokenizer-apply step for in-vocabulary words: the
    * training state after round k equals applying merges 1..k in rank
    * order to each word (each merge greedy left-to-right, the
    * [[bpeMerges]] semantics), which is what a BPE encoder replays.
    * Pairs with [[bpeMerges]] — train emits the merge table a
    * tokenizer ships, this emits the segmentation it induces; both
    * come from the same loop, so they cannot drift.
    *
    * SCALE SHAPE: everything after the corpus-sized word count runs on
    * the vocabulary-sized symbol table (class doc); the final
    * per-word fold is one groupBy over that table — sort_array on a
    * (pos, sym) struct list per word, bounded by max word length.
    */
  def encodedVocab(words: DataFrame, wordCol: String, freqCol: String,
                   nMerges: Int, reliable: Boolean = false): DataFrame = {
    val (bests, state) = trainLoop(words, wordCol, freqCol, nMerges,
      reliable)
    bests.foreach(Components.releasePin(_, reliable)) // state suffices
    state.groupBy(col("word"))
      .agg(count(lit(1)).cast("long").as("n_syms"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("sym")))),
            s => s.getField("sym")), " ").as("encoded"))
  }
}
