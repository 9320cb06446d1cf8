package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, language ID, and document fingerprinting.
  *
  * Everything here is a pure `Column` expression (whole-stage codegen'd —
  * no Scala UDFs), so at 100 TB these run map-side inside the scan stage
  * with zero shuffles: the plan is Scan → Project, and Parquet column
  * pruning means only the text column is read.
  *
  * The reference's analogous layer is its per-line parse/score pass
  * (`program/src/main/scala/hmushtaq/sparkga1/utils/SamRegionsParser.scala:
  * 42-56` — positional field extraction + predicate scoring at parse time);
  * here generalized to document text.
  */
object TextAnalysis {

  /** Lowercase + collapse runs of whitespace to single spaces + trim.
    * Deterministic canonical form shared by fingerprints and shingles.
    * NULL text canonicalizes to '' (not NULL): without the coalesce,
    * `tokens(NULL)` is a NULL array whose size() is -1 (legacy
    * sizeOfNull), which silently poisons every downstream token stat.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(coalesce(text, lit(""))), "\\s+", " "))

  /** Whitespace tokens of the normalized text.
    *
    * NOTE: tokenization (regexp + split) is the expensive subtree and
    * higher-order functions don't whole-stage-codegen, so multi-stat
    * queries should project `tokens(...)` into a column ONCE and use the
    * `...Of(toks)` variants — Catalyst keeps the separate projection
    * (CollapseProject won't inline a non-cheap alias used repeatedly),
    * so the split runs once per row instead of once per statistic.
    */
  def tokens(text: Column): Column = split(normalize(text), " ")

  /** BPE-ish subword-style tokens: maximal lowercase alphanumeric runs,
    * plus every non-alphanumeric non-space character as its own token —
    * the shape of a byte-pair-encoder's pre-tokenization split, so the
    * count tracks real tokenizer counts far better than whitespace
    * splitting on punctuation-heavy text. Pure regexp expression
    * (identical semantics in any RE2/Java-regex engine).
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(coalesce(text, lit(""))),
      lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Token count under the BPE-ish regex tokenization. COUNT-only
    * native kernel (r19): bit-equal to `size(regexTokens(text))` —
    * ScriptCountsSpec pins kernel ≡ regex — without materializing one
    * UTF8String per token into a throwaway array first.
    */
  def regexTokenCount(text: Column): Column =
    call_function("graft_bpe_count", lower(coalesce(text, lit(""))))

  /** Token count (whitespace tokenization). COUNT-only native kernel
    * (r19): bit-equal to `size(split(normalize(text), " "))` —
    * collapsing+trimming make the tokens exactly the maximal non-\s
    * runs, all-whitespace input splits to [""] = 1 (ScriptCountsSpec
    * pins kernel ≡ composed form) — without the regexp_replace
    * rebuild, the split array, or the per-token strings. Callers that
    * need the tokens themselves keep [[tokens]]/[[tokenCountOf]].
    */
  def tokenCount(text: Column): Column =
    call_function("graft_ws_count", coalesce(text, lit("")))

  def tokenCountOf(toks: Column): Column = size(toks)

  /** ENCODING-DAMAGE detection + repair — the mojibake gate a crawl
    * pipeline runs before any text statistic: U+FFFD replacement
    * characters mark bytes a decoder already gave up on, and C0/DEL
    * control characters mark binary spill or transfer corruption.
    * Tab/newline/CR are legitimate text and deliberately NOT counted
    * (the control class skips \x09, \x0A, \x0D). All three are pure
    * codegen'd regexp expressions — scan-stage at any scale, and the
    * character classes mean the same thing in Java regex and RE2, so
    * any engine replays the counts exactly.
    */
  private val ControlClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Count of U+FFFD replacement characters (decoder-failure marks). */
  def replacementCharCount(text: Column): Column = {
    val t = coalesce(text, lit(""))
    length(t) - length(regexp_replace(t, "\uFFFD", ""))
  }

  /** Count of C0 control characters (excluding tab/LF/CR) plus DEL. */
  def controlCharCount(text: Column): Column = {
    val t = coalesce(text, lit(""))
    length(t) - length(regexp_replace(t, ControlClass, ""))
  }

  /** The repaired text: replacement and control characters become
    * spaces (not deleted — deletion glues adjacent words together),
    * then whitespace runs collapse. Clean text passes through
    * unchanged up to that whitespace normalization.
    */
  def sanitizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(coalesce(text, lit("")),
        "[\uFFFD\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", " "),
      "\\s+", " "))

  /** NFC normalization (native `graft_nfc` kernel — session must have
    * GraftExtensions installed): byte-different renderings of the same
    * glyphs ("Cafe"+U+0301 vs "Café") collapse to one composed form, so
    * downstream exact dedup/fingerprinting sees one document, not two.
    * ASCII rows take a zero-copy fast path.
    */
  def nfcNormalize(text: Column): Column = call_function("graft_nfc", text)

  /** Diacritic fold (native `graft_strip_accents` kernel): NFD → drop
    * combining marks. Compose with [[nfcNormalize]] for the canonical
    * accent-insensitive form.
    */
  def stripAccents(text: Column): Column =
    call_function("graft_strip_accents", text)

  /** Codepoint Shannon entropy in bits (native `graft_char_entropy`
    * kernel): the gibberish/compression screen — keyboard-mash and
    * base64 blobs sit far from natural-language entropy (~4.1 bits/char
    * for English). Scan-stage; empty strings score 0.
    */
  def charEntropy(text: Column): Column =
    call_function("graft_char_entropy", text)

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram distribution — the "perplexity filter" shape (CCNet-style)
    * with the LM being the corpus unigram model: gibberish and
    * rare-token soup score low, stopword-y fluent text scores high.
    *
    * Scale shape: tokens explode in the scan stage (no shuffle); the
    * frequency table is one map-side-combined aggregation on token; the
    * corpus total is a one-row aggregate broadcast into the scorer; the
    * per-doc score is one more aggregation on the id. No token ever
    * joins against anything bigger than the vocabulary.
    * Docs with zero tokens yield no row (no defined probability).
    * Returns (idCol, n_toks, mean_logp — unrounded).
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tok = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .where(col("token") =!= "") // empty text tokenizes to [""]
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("_c"))
    // corpus total = Σ vocab counts — summing the (small) frequency
    // table spares a third full-corpus tokenize pass
    val total = freq.agg(sum(col("_c")).cast("double").as("_n"))
    tok.join(freq, "token").crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
           sum(log(col("_c") / col("_n"))).as("_lp"))
      .select(col(idCol), col("n_toks"),
        (col("_lp") / col("n_toks")).as("mean_logp"))
  }

  /** Per-document mean bigram log-probability under an add-one
    * (Laplace) smoothed corpus bigram model:
    * {{{ p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁) + V) }}}
    * — the next step up from [[unigramLogProb]]'s CCNet-style score:
    * a document full of real words in IMPLAUSIBLE ORDER (spam keyword
    * stuffing, shuffled boilerplate) scores near the unigram model but
    * craters here. Smoothing is what makes the score total: an unseen
    * bigram contributes ln(1/(c(w₁)+V)), never −∞.
    *
    * SCALE SHAPE: one tokenize pass feeds both count tables (bigrams
    * via a scan-stage array zip, no self-join); the vocabulary size V
    * is a one-row aggregate broadcast; scoring joins each doc bigram
    * against the two count tables — vocabulary-sized, hash-
    * distributed. Per-doc log sums are doubles (caller rounds).
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tk = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) > 0 &&
        !(size(col("_toks")) === 1 && element_at(col("_toks"), 1) === ""))
    val uni = tk.select(col(idCol), explode(col("_toks")).as("w1"))
    val cu = uni.groupBy(col("w1")).agg(count(lit(1)).as("_cu"))
    val vocab = cu.agg(count(lit(1)).as("_v"))
    val bi = tk.where(size(col("_toks")) > 1)
      .select(col(idCol), explode(expr(
        """transform(sequence(1, size(_toks) - 1),
           i -> struct(element_at(_toks, CAST(i AS INT)) AS w1,
                       element_at(_toks, CAST(i + 1 AS INT)) AS w2))"""))
        .as("_b"))
      .select(col(idCol), col("_b.w1"), col("_b.w2"))
    // bigram counts by count-over-window instead of groupBy + join
    // back (r18, the q94 rule): the join's probe side re-ran the whole
    // tokenize + bigram transform (no exchange below it to reuse) and
    // paid a second (w1, w2) exchange; the window attaches _cb on ONE
    // evaluation and one exchange — identical rows (inner join on the
    // table's own aggregate matches every row)
    bi.withColumn("_cb", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("w1"), col("w2"))))
      .join(cu, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log((col("_cb") + lit(1)).cast("double") /
          (col("_cu") + col("_v")).cast("double"))).as("_lp"))
      .select(col(idCol), col("n_bigrams"),
        (col("_lp") / col("n_bigrams")).as("mean_logp"))
  }

  /** Per-source KL divergence of the token distribution from the
    * corpus-wide distribution — the "domain shift" report: which
    * sources' language deviates most from the mix (a high-KL source is
    * either a different register or contamination). KL(p_src ‖ p_all)
    * = Σ p log(p/q), natural log.
    *
    * Scale shape: ONE corpus tokenize pass → per-(source, token)
    * counts; the global distribution derives from those counts (no
    * second scan), per-source totals are a tiny aggregate joined back,
    * and the corpus total broadcasts as one row. Everything after the
    * first aggregation operates on vocabulary-sized tables.
    */
  def sourceTokenKl(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val tok = docs
      .select(col(groupCol), explode(tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
    val bg = tok.groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("_cg"))
    val global = bg.groupBy(col("token")).agg(sum(col("_cg")).as("_c"))
    val perGroup = bg.groupBy(col(groupCol)).agg(sum(col("_cg")).as("_ng"))
    val total = global.agg(sum(col("_c")).cast("double").as("_n"))
    val p = col("_cg").cast("double") / col("_ng").cast("double")
    val q = col("_c").cast("double") / col("_n")
    bg.join(global, "token").join(perGroup, groupCol)
      .crossJoin(broadcast(total))
      .groupBy(col(groupCol))
      .agg(first(col("_ng")).as("n_tokens"),
           sum(p * log(p / q)).as("kl"))
  }

  /** BM25 retrieval: score every document against a literal query
    * string (Robertson/Okapi, the lexical-search baseline every RAG
    * stack keeps next to its ANN index) and return the top `k`.
    *
    * {{{ Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl)) }}}
    * with `idf(t) = ln((N−df+0.5)/(df+0.5) + 1)` (the +1 form — never
    * negative). One tokenize pass; only rows containing a query term
    * survive the semi-join onto the (tiny, broadcast) query-term
    * frequency table; the final selection is a top-k
    * (TakeOrderedAndProject), never a global sort. N and avgdl are the
    * corpus constants a real deployment precomputes — here two driver
    * scalars from one aggregate (documented small-by-contract).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           query: String, k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = normalizeString(query).split(" ").filter(_.nonEmpty)
      .distinct.toSeq
    val tok = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
    val lens = tok.groupBy(col(idCol)).agg(count(lit(1)).as("_len"))
    val Array(nDocs, totLen) = lens
      .agg(count(lit(1)).cast("double"), sum(col("_len")).cast("double"))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    val avgdl = totLen / nDocs
    val qdf = tok.where(col("token").isin(qTerms: _*))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("_tf"))
      .join(broadcast(
        tok.where(col("token").isin(qTerms: _*))
          .select(col(idCol), col("token")).distinct()
          .groupBy(col("token")).agg(count(lit(1)).as("_df"))), "token")
    val idf = log(
      (lit(nDocs) - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)) +
        lit(1.0))
    qdf.join(lens, idCol)
      .withColumn("_s", idf *
        (col("_tf") * lit(k1 + 1)) /
        (col("_tf") + lit(k1) * (lit(1 - b) +
          lit(b) * col("_len").cast("double") / lit(avgdl))))
      .groupBy(col(idCol))
      .agg(round(sum(col("_s")), 6).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Normalize a plain Scala string exactly like the `normalize`
    * Column (lowercase, whitespace collapse) — for literal queries.
    */
  private def normalizeString(s: String): String =
    s.toLowerCase.replaceAll("\\s+", " ").trim

  /** Class-distinctive terms (c-TF-IDF, the BERTopic topic-labeling
    * form): per class, the top-`k` tokens by
    * `(tf_in_class / class_tokens) · ln(1 + n_classes / class_df)` —
    * what makes THIS source/cluster read differently from the rest.
    * One tokenize pass; everything after the first aggregation is
    * vocabulary-sized. `n_classes` is a driver scalar (one tiny
    * distinct count — same contract as Similarity's centroid collect).
    * Deterministic: rank ties break on the token.
    */
  def classTerms(docs: DataFrame, classCol: String, textCol: String,
                 k: Int): DataFrame = {
    val tok = docs
      .select(col(classCol), explode(tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
    val bg = tok.groupBy(col(classCol), col("token"))
      .agg(count(lit(1)).as("_cg"))
    val nClasses = bg.select(col(classCol)).distinct().count().toDouble
    val ng = bg.groupBy(col(classCol)).agg(sum(col("_cg")).as("_ng"))
    val dfc = bg.groupBy(col("token")).agg(count(lit(1)).as("_df"))
    val w = Window.partitionBy(col(classCol))
      .orderBy(col("score").desc, col("token"))
    bg.join(ng, classCol).join(dfc, "token")
      .withColumn("score",
        (col("_cg").cast("double") / col("_ng").cast("double")) *
          log(lit(1.0) + lit(nClasses) / col("_df").cast("double")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col(classCol), col("rnk"), col("token"), col("score"))
  }

  /** Zipf rank-frequency slope per source: the log-log regression
    * coefficient of token frequency against rank (natural text sits
    * near −1; templated/boilerplate corpora flatten, ID-soup steepens).
    * Deterministic ranks: frequency desc, token asc. One tokenize pass;
    * the window and regression run over vocabulary-sized tables only.
    */
  def zipfSlope(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val tok = docs
      .select(col(groupCol), explode(tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
    val freq = tok.groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("_f"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("_f").desc, col("token"))
    freq.withColumn("_rank", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_vocab"),
           regr_slope(log(col("_f").cast("double")),
                      log(col("_rank").cast("double"))).as("slope"))
  }

  /** Distinct-token ratio of a token array — low values indicate
    * repetitive/boilerplate text (a standard LLM-data quality signal).
    */
  def distinctTokenRatioOf(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Mean token length in characters of a token array. */
  def meanTokenLengthOf(toks: Column): Column =
    (length(concat_ws("", toks)).cast("double")) / size(toks)

  /** Fraction of characters that are punctuation (NULL text = ''). */
  def punctRatio(text: Column): Column = {
    val t = coalesce(text, lit(""))
    (length(t) - length(regexp_replace(t, "[\\.,;:!\\?]", "")))
      .cast("double") / greatest(length(t), lit(1))
  }

  /** Tokens of `t` that are in the literal set (keeps duplicates —
    * unlike array_intersect which dedups).
    */
  private def array_intersect_keep(t: Column, set: Seq[String]): Column =
    filter(t, x => x.isin(set.map(lit(_)): _*))

  /** Composite quality score in [0,1]: rewards mid-length docs with
    * diverse tokens and low punctuation density. Weights are fixed so the
    * score is deterministic and comparable across runs. `toks` is
    * `tokens(text)`, passed in so callers tokenize once.
    */
  def qualityScoreOf(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val lenScore = least(nTok / 50d, lit(1d)) // saturates at 50 tokens
    val divScore = distinctTokenRatioOf(toks)
    val punctPenalty = lit(1d) - least(punctRatio(text) * 5d, lit(1d))
    round(lenScore * 0.4 + divScore * 0.4 + punctPenalty * 0.2, 6)
  }

  /** MODEL-BASED quality scoring: apply a pre-trained logistic
    * regression over the rule-based features — the fastText-style
    * classifier step of a curation stack (the trained weights arrive as
    * parameters; training happens offline). score =
    * σ(bias + Σ wᵢ·fᵢ) over (length saturation, token diversity,
    * punctuation density, mean token length), rounded to 6 places so
    * sigmoid's libm tail never hash-diverges across engines. Pure
    * scan-stage arithmetic: applying a linear model to 100 TB is a map,
    * and that is the point of the exercise — model INFERENCE belongs in
    * the scan stage, not a UDF service call per row.
    */
  def logisticQualityScore(text: Column,
                           wLen: Double = 2.0, wDiv: Double = 3.0,
                           wPunct: Double = -4.0, wMtl: Double = 0.5,
                           bias: Double = -2.5): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val z = lit(bias) +
      least(nTok / 50d, lit(1d)) * wLen +
      distinctTokenRatioOf(toks) * wDiv +
      punctRatio(text) * wPunct +
      least(meanTokenLengthOf(toks) / 10d, lit(1d)) * wMtl
    round(lit(1d) / (lit(1d) + exp(-z)), 6)
  }

  /** Per-language marker-token hit counts → argmax language ID.
    * A tiny n-gram/stopword-profile heuristic: count tokens in each
    * language's marker list; predict the language with the most hits
    * (ties broken by profile order). Marker lists are parameters so the
    * heuristic stays data-independent and oracle-reproducible.
    */
  def langId(text: Column, profiles: Seq[(String, Seq[String])]): Column =
    langIdOf(tokens(text), profiles)

  def langIdOf(toks: Column, profiles: Seq[(String, Seq[String])])
      : Column =
    langIdScored(profiles.map { case (lang, marks) =>
      (lang, size(array_intersect_keep(toks, marks)))
    })

  /** langIdOf with the marker counting done by the NATIVE
    * `graft_count_in` expression — the composable form's filter() lambda
    * evaluates interpreted per token per profile. Requires the graft
    * functions registered on the session (every engine session carries
    * [[graft.functions.GraftExtensions]]); the composable `langIdOf`
    * stays session-free.
    */
  def langIdNative(toks: Column, profiles: Seq[(String, Seq[String])])
      : Column =
    langIdScored(profiles.map { case (lang, marks) =>
      (lang, markerCountNative(toks, marks))
    })

  /** Count of tokens in the literal `marks` set (native kernel). */
  def markerCountNative(toks: Column, marks: Seq[String]): Column =
    call_function("graft_count_in", toks, array(marks.map(lit): _*))

  /** Argmax with first-wins tie-break over (lang, score) pairs: fold a
    * struct(score, lang) max.
    */
  private def langIdScored(scored: Seq[(String, Column)]): Column =
    scored.tail.foldLeft(
      struct(scored.head._2.as("s"), lit(scored.head._1).as("l"))
    ) { case (best, (lang, sc)) =>
      when(sc > best.getField("s"), struct(sc.as("s"), lit(lang).as("l")))
        .otherwise(best)
    }.getField("l")

  /** 64-bit-equivalent document fingerprint: first 16 hex chars of the
    * md5 of the normalized text. Stable across engines (md5 is exact) —
    * the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    substring(md5(normalize(text)), 1, 16)

  /** Word n-gram shingles of the normalized text (for Jaccard/MinHash):
    * shingle i = tokens[i..i+n-1] joined by spaces. Empty result if the
    * document has fewer than n tokens.
    *
    * PERFORMANCE: do NOT feed `tokens(text)` expressions into hot paths —
    * a Column is an expression TREE, so every reference to `t` below is a
    * full copy of the regexp+split subtree, and HOF lambdas evaluate
    * interpreted (no CSE): the tokenizer would re-run once per shingle.
    * Project the token array into a real column first and call
    * `wordShinglesOf` on the attribute (measured 8× faster on the
    * near-dup pipeline).
    */
  def wordShingles(text: Column, n: Int): Column =
    wordShinglesOf(tokens(text), n)

  /** Same, over an already-projected token-array column. */
  def wordShinglesOf(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Per-document TF-IDF term scores: tf = in-doc term count, idf =
    * ln(N / df) over the corpus, score rounded to 6 dp (the rounding is
    * load-bearing for cross-engine determinism — libm ln implementations
    * may differ in the last ulp, and 6-dp rounding absorbs that before
    * any ranking happens). Returns one row per (id, term) with tf, df,
    * and score.
    *
    * Scale shape: tf is one map-side-combined groupBy over exploded
    * tokens; df is a second aggregation over the DISTINCT (doc, term)
    * pairs tf already produced (no second tokenize); the idf lookup
    * joins on term — broadcast when the vocabulary fits (typical:
    * vocab ≪ corpus), shuffle otherwise, Spark picks by stats.
    */
  def tfidf(docs: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String): org.apache.spark.sql.DataFrame = {
    val n = docs.count() // corpus size: one deliberate scalar job
    // project the token array, then explode_outer: a plain explode over
    // the inline tokens() expression gets an inferred size>0 filter
    // pushed down with the tokenizer substituted — re-tokenizing every
    // row for a filter that can never drop one (split('') is ['']).
    // Outer generates get no inferred filter, and tokens() never yields
    // NULL or an empty array, so the rows are identical.
    val tf = docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode_outer(col("_toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // document frequency by count-over-window instead of groupBy +
    // join back (r18, the q94 rule): tf has exactly one row per
    // (doc, term), so counting rows within the term partition IS df —
    // one term exchange replaces the df aggregate plus the join's
    // second full-tf exchange. Column order kept join-identical
    // (term first) for the callers' selects.
    tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .select(col("term"), col(idCol), col("tf"), col("df"))
      .withColumn("score",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
  }

  /** Gopher-style repetition signals per document, all computed
    * scan-stage with ZERO shuffles: token and 2-gram arrays are
    * projected ONCE into real columns (referenced repeatedly, so
    * CollapseProject keeps them — the tokenize-once discipline), the
    * max-multiplicity counts run through the native O(n)
    * `graft_top_count` kernel (the Column formulation is an O(n²)
    * interpreted double lambda), and the thresholds are plain
    * comparisons. Returns one row per doc:
    * (idCol, n_tokens, top_token_count, top_token_frac,
    * top_2gram_count, dup_2gram_frac, repetition_ok).
    *
    * The classic Gopher rules also gate on duplicate LINES and
    * paragraphs; this corpus has no line structure, so the signal set
    * is the token/n-gram half of the family. `topTokenMax` /
    * `dupBigramMax` are parameters — the defaults split this corpus
    * roughly 80/20, the point being a filter that actually fires.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String,
                        topTokenMax: Double = 0.12,
                        dupBigramMax: Double = 0.05): DataFrame = {
    val base = docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        call_function("graft_shingles", col("_toks"), lit(2)).as("_g2"))
    base.select(
        col(idCol),
        size(col("_toks")).as("n_tokens"),
        call_function("graft_top_count", col("_toks"))
          .as("top_token_count"),
        call_function("graft_top_count", col("_g2")).as("top_2gram_count"),
        size(col("_g2")).as("_n2"),
        size(array_distinct(col("_g2"))).as("_d2"))
      // tokens() yields at least [""] even for empty text, so n_tokens
      // >= 1 and the division is ANSI-safe; the 2-gram count CAN be 0
      .withColumn("top_token_frac",
        round(col("top_token_count").cast("double") / col("n_tokens"), 6))
      .withColumn("dup_2gram_frac",
        when(col("_n2") > 0,
          round(lit(1d) - col("_d2").cast("double") / col("_n2"), 6))
          .otherwise(lit(0d)))
      .withColumn("repetition_ok",
        col("top_token_frac") <= topTokenMax &&
          col("dup_2gram_frac") <= dupBigramMax)
      .drop("_n2", "_d2")
  }

  /** Gopher-style quality rule bundle (Rae et al. 2021 §A1.1): the
    * published pretraining-filter thresholds as one scan-stage report —
    * word-count bounds, mean-word-length band, minimum alphabetic-word
    * fraction, and the ≥2-common-stopwords requirement (the cheap
    * "is this prose at all" test). Complements [[repetitionSignals]]
    * (which carries the repetition half of the Gopher rules) and
    * [[qualityScoreOf]] (a continuous score, where these are the
    * published hard gates).
    *
    * SCALE SHAPE: zero shuffles — every signal is array arithmetic
    * over the one tokenization (mean word length via an aggregate()
    * fold, distinct-stopword hits via array_intersect); the report is
    * a pure scan-stage projection.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2): DataFrame = {
    val stopwords = Seq("the", "be", "to", "of", "and", "that", "have",
      "with", "a", "in")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        when(element_at(col("_toks"), 1) === "" &&
          size(col("_toks")) === 1, 0L)
          .otherwise(size(col("_toks")).cast("long")).as("n_words"))
    base
      .withColumn("mean_word_len",
        when(col("n_words") > 0, round(
          expr("aggregate(_toks, 0L, (acc, x) -> acc + length(x))")
            .cast("double") / col("n_words"), 6))
          .otherwise(lit(0.0)))
      .withColumn("alpha_frac",
        when(col("n_words") > 0, round(
          expr("size(filter(_toks, x -> x rlike '[a-z]'))")
            .cast("double") / col("n_words"), 6))
          .otherwise(lit(0.0)))
      // DISTINCT stopwords present (array_intersect dedups) — the
      // paper's "contain at least two of the following words"
      .withColumn("stop_hits",
        size(array_intersect(col("_toks"),
          array(stopwords.map(lit): _*))).cast("long"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanLen &&
          col("mean_word_len") <= maxMeanLen &&
          col("alpha_frac") >= minAlphaFrac &&
          col("stop_hits") >= minStopHits)
      .drop("_toks")
  }

  /** Overlapping token-window chunks per document — the context-window
    * preparation step of a RAG / training pipeline: chunk k covers
    * tokens [k·stride, k·stride + chunkSize), so consecutive chunks
    * overlap by chunkSize − stride tokens; the last chunk may be
    * shorter, every token is covered, and a short doc yields exactly
    * one chunk. One row per (doc, chunk): (idCol, chunk_id,
    * n_chunk_tokens, chunk_text).
    *
    * Scan-stage all the way: tokenize once, one Generate multiplies
    * rows by the (small) chunk count, and the slices/joins are
    * codegen'd built-ins — no shuffle anywhere, so at 100 TB this is
    * a pure map over the corpus with ~n/stride output amplification.
    */
  def tokenChunks(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"need 1 <= stride <= chunkSize, got chunkSize=$chunkSize " +
        s"stride=$stride")
    val nChunks = when(col("_n") <= chunkSize, lit(1L))
      // integer ceil((n - chunkSize) / stride) + 1, written as a floor
      // over exact small-int doubles so any engine reproduces it
      .otherwise(floor((col("_n") - chunkSize + stride - 1)
        .cast("double") / stride).cast("long") + 1L)
    docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .withColumn("_nc", nChunks)
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0L), col("_nc") - 1)).as("chunk_id"))
      .withColumn("_chunk", slice(col("_toks"),
        (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)))
      .select(col(idCol), col("chunk_id"),
        size(col("_chunk")).as("n_chunk_tokens"),
        concat_ws(" ", col("_chunk")).as("chunk_text"))
  }

  /** Corpus vocabulary: the k most frequent tokens with total
    * occurrence count and document frequency — the tokenizer-training /
    * vocab-pruning input. Shape at 100 TB: tokenize scan-stage, ONE
    * hash-partitioned aggregation on the token key (map-side combine
    * collapses each partition's counts before the exchange; the
    * distinct-doc count rides the same two-phase aggregate), then
    * `orderBy(...).limit(k)` which Catalyst runs as
    * TakeOrderedAndProject — a per-partition heap + tiny driver merge,
    * never a full sort of the vocabulary.
    */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String,
                 k: Int): DataFrame =
    docs
      .select(col(idCol).as("_vid"),
        explode(tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"),
        countDistinct(col("_vid")).as("df"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  /** PMI bigram collocations — the corpus-statistics step behind
    * phrase mining / tokenizer-vocab extension ("new york", "machine
    * learning" score high because they co-occur far above chance):
    * every adjacent token pair with `n_ab ≥ minCount`, scored
    *
    * {{{ pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ) }}}
    *
    * with p(a,b) = n_ab / N_bigrams and p(w) = n_w / N_tokens.
    *
    * Scale design: adjacent pairs come from `zip_with` over two slices
    * of the SAME tokens array (one tokenize per row, zero extra
    * passes); unigram and bigram counts are two map-side-combined
    * aggregations; the corpus totals are ONE-ROW aggregates
    * cross-joined (broadcast) into the scoring projection — nothing
    * collects at the driver. The two count-table joins are
    * vocabulary-sized (≪ corpus) and AQE-planned. The `minCount`
    * filter applies BEFORE the unigram joins, so rare-pair noise never
    * reaches the join.
    */
  def pmiBigrams(docs: DataFrame, textCol: String,
                 minCount: Long): DataFrame = {
    val toksOf = tokens(col(textCol))
    val base = docs.select(toksOf.as("_toks"))
      .select(filter(col("_toks"), t => t =!= "").as("toks"))
    // both tables feed the totals AND the final join — pinned, not
    // persisted, so their blocks are ContextCleaner-scoped (freed when
    // the result frame is dropped) rather than session-lifetime
    // CacheManager entries nothing ever releases
    val bigrams = Components.pin(
      base.select(
          when(size(col("toks")) >= 2,
            zip_with(
              slice(col("toks"), lit(1), size(col("toks")) - 1),
              slice(col("toks"), lit(2), size(col("toks")) - 1),
              (a, b) => struct(a.as("w1"), b.as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
          .as("bgs"))
        .select(explode(col("bgs")).as("bg"))
        .select(col("bg.w1"), col("bg.w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab")),
      reliable = false)
    val uni = Components.pin(
      base.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("_c")),
      reliable = false)
    val nu = uni.agg(sum(col("_c")).cast("double").as("_nu"))
    val nb = bigrams.agg(sum(col("n_ab")).cast("double").as("_nb"))
    bigrams
      .where(col("n_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("_c").as("_ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("_c").as("_cb")), "w2")
      .crossJoin(broadcast(nu))
      .crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("n_ab"),
        round(log(
          (col("n_ab").cast("double") / col("_nb")) /
          ((col("_ca").cast("double") / col("_nu")) *
           (col("_cb").cast("double") / col("_nu")))), 6).as("pmi"))
  }

  /** PII patterns for [[redactPii]], ordered by redaction precedence
    * (emails first — their local/domain parts contain digit runs that
    * must not be half-eaten by the phone/IP patterns). Deliberately
    * kept inside the regex dialect shared by Java and RE2 (no
    * backrefs, no lookaround) so any engine reproduces the scrub
    * byte-for-byte.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "[EMAIL]"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "[PHONE]"))

  /** PII scrub — the curation step every shipped training set needs:
    * (idCol, redacted text, one count column per PII type, n_pii
    * total). Counts are taken BEFORE redaction on the original text
    * (each pattern independently), then patterns replace in precedence
    * order. Pure scan-stage expressions: regexp counts + chained
    * regexp_replace, zero shuffles, codegen'd — at 100 TB this is a
    * map over the corpus like any other text operator.
    */
  def redactPii(docs: DataFrame, idCol: String, textCol: String,
                extraCols: Seq[String] = Seq.empty): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val counts = piiPatterns.map { case (name, re, _) =>
      size(regexp_extract_all(text, lit(re), lit(0)))
        .cast("long").as(s"n_$name")
    }
    val redacted = piiPatterns.foldLeft(text) {
      case (acc, (_, re, repl)) => regexp_replace(acc, lit(re), lit(repl))
    }
    docs.select(
      (col(idCol) +: extraCols.map(col)) ++
        (counts :+ redacted.as("redacted")): _*)
      .withColumn("n_pii",
        piiPatterns.map(p => col(s"n_${p._1}")).reduce(_ + _))
  }

  /** SimHash bit contribution from md5 hex digits of each token: bit p
    * (0..63) draws from hex char p/2 of the token's md5 — even bits use
    * the char's LOW bit (values 1,3,5,7,9,b,d,f), odd bits its SECOND
    * bit (2,3,6,7,a,b,e,f) — so one md5 per token yields a full 64-bit
    * signature (2 independent bits per hex char). Pure expressions →
    * computable identically in any engine with md5.
    */
  /** C4-style LINE-LEVEL boilerplate removal: lines whose document
    * frequency reaches `minDocs` (navigation chrome, cookie banners,
    * license headers — the lines that repeat across a crawl without the
    * documents being duplicates) are deleted from every document.
    * Returns (idCol, n_lines, n_removed, cleaned_text); lines match on
    * their trimmed form, empty lines are never boilerplate.
    *
    * SCALE SHAPE: the corpus NEVER shuffles. Line document-frequency is
    * one aggregate over the exploded (trimmed-line, id) pairs — the
    * shuffle carries line strings + ids, not documents. The boilerplate
    * set is then folded to a single array row and broadcast-cross-joined,
    * so the removal itself is a scan-stage array filter over each doc's
    * own lines. The set is SMALL BY CONSTRUCTION: lines with df ≥
    * `minDocs` number at most total-line-rows / minDocs (the same
    * boundedness argument as jaccard's maxDf cap) — a meaningful
    * threshold (0.01% of a crawl) keeps it broadcastable by definition.
    */
  def removeBoilerplateLines(docs: DataFrame, idCol: String,
                             textCol: String, minDocs: Long): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would delete every non-empty line")
    val txt = coalesce(col(textCol), lit(""))
    val lines = docs
      .select(col(idCol), explode(split(txt, "\n")).as("_l"))
      .select(col(idCol), trim(col("_l")).as("_tl"))
      .where(col("_tl") =!= "")
    val bl = lines.groupBy(col("_tl"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .where(col("_df") >= minDocs)
    val blArr = bl.agg(
      coalesce(collect_set(col("_tl")),
        array().cast("array<string>")).as("_bl"))
    docs.crossJoin(broadcast(blArr))
      .withColumn("_ls", split(txt, "\n"))
      .withColumn("_keep",
        filter(col("_ls"), l => !array_contains(col("_bl"), trim(l))))
      .select(col(idCol),
        size(col("_ls")).cast("long").as("n_lines"),
        (size(col("_ls")) - size(col("_keep"))).cast("long")
          .as("n_removed"),
        array_join(col("_keep"), "\n").as("cleaned_text"))
  }

  /** Unicode-script composition per document: counts of Latin,
    * Cyrillic, Han, and decimal-digit codepoints plus the dominant
    * script — the script-level language screen that runs BEFORE any
    * n-gram language model ([[langId]]): a Cyrillic document should
    * never reach a Latin-trigram classifier, and mixed-script text
    * (Latin spam wrapped in CJK, homoglyph attacks) is its own quality
    * signal.
    *
    * Pure scan-stage: ONE native codepoint-classification pass per row
    * (`graft_script_counts`, r19), no shuffle — the groupBy/report is
    * the caller's. Dominant script resolves ties by fixed precedence
    * (latin > cyrillic > han > none), stated so an oracle can replay
    * it. Counts are bit-equal to the four-regex form the oracle uses
    * (`\p{IsCyrillic}` in Java regex; RE2 spells it `\p{Cyrillic}`) —
    * per CODEPOINT, not per byte — but skip its allocation storm: a
    * per-codepoint regex match materializes a single-char UTF8String
    * per character per class just for `size` to count
    * (ScriptCountsSpec pins kernel ≡ regex).
    */
  def scriptMix(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    docs.select(col(idCol),
        call_function("graft_script_counts", txt).as("_sc"))
      .select(col(idCol),
        col("_sc")(0).as("n_latin"), col("_sc")(1).as("n_cyrillic"),
        col("_sc")(2).as("n_han"), col("_sc")(3).as("n_digit"))
      .withColumn("main_script",
        when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_han") && col("n_latin") > 0,
          "latin")
          .when(col("n_cyrillic") >= col("n_han") &&
            col("n_cyrillic") > 0, "cyrillic")
          .when(col("n_han") > 0, "han")
          .otherwise("none"))
  }

  /** Prefix-compression estimate per key: sort the texts (binary
    * order) within each key, take each row's longest common prefix
    * with its predecessor (native `graft_lcp` kernel — one O(n) scan,
    * not the O(n²) HOF substr tree), and report total characters vs
    * prefix-shareable characters — the expected win of a
    * prefix/delta-encoded storage layout, and a cheap template-ness
    * score per source (boilerplate-heavy corpora compress far better).
    *
    * SCALE SHAPE: ONE per-key window (sort by text) feeding a lag();
    * the LCP is a scan-stage kernel; one final aggregate. The sort is
    * the same exchange any per-key window pays.
    */
  def prefixCompressionStats(docs: DataFrame, keyCol: String,
                             textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(textCol))
    val txt = coalesce(col(textCol), lit(""))
    docs
      .withColumn("_prev", lag(txt, 1).over(w))
      .withColumn("_lcp", when(col("_prev").isNull, lit(0))
        .otherwise(call_function("graft_lcp", txt, col("_prev"))))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(txt)).cast("long").as("total_chars"),
        sum(col("_lcp")).cast("long").as("shared_prefix_chars"),
        round(sum(col("_lcp")).cast("double") /
          sum(length(txt)).cast("double"), 6).as("compressible_frac"))
  }

  /** Vocabulary coverage: the fraction of each group's token
    * OCCURRENCES covered by the global top-`topK` vocabulary — the
    * OOV-rate screen run before committing to a fixed vocab size
    * (a source whose coverage is low will shatter into unknown
    * tokens). Deterministic top-K: ties break by token ascending.
    *
    * SCALE SHAPE: one tokenize pass feeds both the global vocab count
    * and the per-group totals; the top-K is a TakeOrdered (never a
    * global sort) broadcast back as a semi-join. The token table is
    * pinned; its blocks are left to the ContextCleaner (freed at the GC
    * after the result frame is dropped).
    */
  def vocabCoverage(docs: DataFrame, groupCol: String, textCol: String,
                    topK: Int): DataFrame = {
    val tok = Components.pin(
      docs
        .select(col(groupCol), explode(tokens(col(textCol))).as("token"))
        .where(col("token") =!= ""),
      reliable = false)
    val vocab = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("token")).limit(topK)
      .select(col("token"))
    val covered = tok.join(broadcast(vocab), Seq("token"), "left_semi")
      .groupBy(col(groupCol)).agg(count(lit(1)).as("covered_tokens"))
    // the pinned token table serves vocab, covered, AND totals
    tok.groupBy(col(groupCol))
      .agg(count(lit(1)).as("total_tokens"))
      .join(covered, Seq(groupCol), "left")
      .select(col(groupCol), col("total_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(lit(1.0) - coalesce(col("covered_tokens"), lit(0L))
          .cast("double") / col("total_tokens").cast("double"), 6)
          .as("oov_rate"))
  }

  /** Pairwise Jensen–Shannon divergence between the groups' token
    * distributions: `JS(P,Q) = ½KL(P‖M) + ½KL(Q‖M)`, `M = (P+Q)/2` —
    * the SYMMETRIC, always-finite companion to the per-group-vs-corpus
    * KL ([[sourceTokenKl]]): KL explodes on tokens absent from Q; JS
    * is bounded by ln 2, which is what you want for a source-pair
    * distance matrix.
    *
    * SCALE SHAPE: one tokenize pass → per-(group, token) counts; the
    * pair×token table is the union of both sides' vocabularies per
    * pair (equi-joins on token; the pair list is #groups², a bounded
    * catalog). Terms are fixed-shape doubles on exact counts, summed
    * then rounded (the q122 protocol).
    *
    * `topGroups` caps the catalog (the q155 `maxDf` doctrine): 0 = all
    * groups — fine for a bounded catalog of tens of sources, QUADRATIC
    * in #groups otherwise; > 0 keeps only the topGroups groups with
    * the most token occurrences (ties by group ascending — the
    * deterministic, oracle-stateable pick) before forming pairs, so
    * pointing the matrix at 10³+ fine-grained groups costs
    * topGroups²·vocab, not #groups²·vocab. The pinned intermediates
    * are left to the ContextCleaner, as in [[vocabCoverage]].
    */
  def jsDivergenceMatrix(docs: DataFrame, groupCol: String,
                         textCol: String,
                         topGroups: Int = 0): DataFrame = {
    val bg = Components.pin(
      docs
        .select(col(groupCol).as("g"),
          explode(tokens(col(textCol))).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("g"), col("token"))
        .agg(count(lit(1)).as("_c")),
      reliable = false)
    val totals0 = bg.groupBy(col("g")).agg(sum(col("_c")).as("_n"))
    // group cap: a TakeOrdered over the (small) per-group totals —
    // never a global sort of the token table
    val totals = if (topGroups > 0)
      totals0.orderBy(col("_n").desc, col("g")).limit(topGroups)
    else totals0
    val withP = Components.pin(
      bg.join(broadcast(totals), "g")
        .select(col("g"), col("token"),
          (col("_c").cast("double") / col("_n").cast("double")).as("p")),
      reliable = false)
    // pair spine is the capped group catalog squared (≤ topGroups²
    // rows, 28 at the default cap of 8) — broadcast-bounded by
    // construction, never by data
    val pairs = totals.select(col("g").as("ga"))
      .crossJoin(broadcast(totals.select(col("g").as("gb"))))
      .where(col("ga") < col("gb"))
    val sideA = pairs.join(withP.withColumnRenamed("g", "ga"), Seq("ga"))
      .select(col("ga"), col("gb"), col("token"), col("p").as("pa"))
    val sideB = pairs.join(withP.withColumnRenamed("g", "gb"), Seq("gb"))
      .select(col("ga"), col("gb"), col("token"), col("p").as("pb"))
    val cells = sideA.join(sideB, Seq("ga", "gb", "token"), "full")
    val pa = coalesce(col("pa"), lit(0.0))
    val pb = coalesce(col("pb"), lit(0.0))
    val m = (pa + pb) / 2
    val term =
      when(col("pa").isNotNull, lit(0.5) * pa * log(pa / m))
        .otherwise(lit(0.0)) +
      when(col("pb").isNotNull, lit(0.5) * pb * log(pb / m))
        .otherwise(lit(0.0))
    // pinned bg/withP serve both pair sides
    cells.groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).as("n_union_tokens"),
        round(sum(term), 6).as("js"))
  }

  def simhashBitContribution(tokenMd5: Column, pos: Int): Column = {
    val ones =
      if (pos % 2 == 0) Seq("1", "3", "5", "7", "9", "b", "d", "f")
      else Seq("2", "3", "6", "7", "a", "b", "e", "f")
    when(substring(tokenMd5, pos / 2 + 1, 1).isin(ones: _*), lit(1))
      .otherwise(lit(-1))
  }
}
