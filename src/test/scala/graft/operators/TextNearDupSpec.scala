package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("tokenCount / normalize collapse whitespace") {
    val df = Seq("  Hello   world ", "a\tb\nc").toDF("text")
    val got = df.select(TextAnalysis.tokenCount($"text")).as[Int].collect()
    assert(got.toSeq == Seq(2, 3))
  }

  test("nfc/strip_accents kernels: decomposed forms fold; ASCII zero-copy") {
    val df = Seq("Cafe\u0301", "Caf\u00e9", "plain ascii", "u\u0308ber")
      .toDF("text")
    val got = df.select(TextAnalysis.nfcNormalize($"text").as("n"),
        TextAnalysis.stripAccents(TextAnalysis.nfcNormalize($"text"))
          .as("f"))
      .as[(String, String)].collect()
    assert(got(0)._1 == got(1)._1)        // decomposed == precomposed
    assert(got(0)._1 == "Caf\u00e9")      // NFC is the composed form
    assert(got(0)._2 == "Cafe" && got(3)._2 == "uber")
    assert(got(2)._1 == "plain ascii" && got(2)._2 == "plain ascii")
    // codegen path: the projection must stay in WholeStageCodegen
    // (parquet-backed — a LocalTableScan folds the projection away)
    val plan = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextAnalysis.nfcNormalize($"text"))
      .queryExecution.executedPlan.toString
    // '*(' marks a WholeStageCodegen stage in the compact rendering
    assert(plan.contains("*(1) Project [graft_nfc"), plan)
  }

  test("unigramLogProb: corpus-frequency scoring, empty docs dropped") {
    // corpus = 5 tokens: 'the'×4, 'rare'×1
    val docs = Seq(
      (1L, "the the the"),   // every token logp = ln(4/5)
      (2L, "the rare"),
      (3L, ""),              // no tokens → no row
      (4L, "  ")             // whitespace only → no row
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L)._1 == 3L)
    assert(math.abs(got(1L)._2 - math.log(4.0 / 5)) < 1e-12)
    val exp2 = (math.log(4.0 / 5) + math.log(1.0 / 5)) / 2
    assert(got(2L)._1 == 2L && math.abs(got(2L)._2 - exp2) < 1e-12)
  }

  test("charEntropy: known distributions; empty → 0; kernel matches log2") {
    val df = Seq("aabb", "abcd", "aaaa", "").toDF("text")
    val got = df.select(TextAnalysis.charEntropy($"text"))
      .as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12) // 2 symbols, uniform
    assert(math.abs(got(1) - 2.0) < 1e-12) // 4 symbols, uniform
    assert(got(2) == 0.0 && got(3) == 0.0)
  }

  test("sourceTokenKl: a source matching the mix scores 0; a skewed one > 0") {
    val docs = Seq(
      ("a", "x y x y"), ("b", "x y x y"),     // identical distributions
      ("c", "z z z z")                        // all mass on a rare token
    ).toDF("source", "text")
    val kl = TextAnalysis.sourceTokenKl(docs, "source", "text")
      .select($"source", $"kl").as[(String, Double)].collect().toMap
    assert(kl("a") == kl("b"))
    assert(kl("c") > kl("a") && kl("c") > 0.5)
    assert(kl("a") > 0) // 'a' lacks z-mass, so it too deviates (slightly)
  }

  test("zipfSlope: regression matches the closed form on a tiny vocab") {
    // one source, freqs 4,2,1 → ranks 1,2,3; slope = cov/var over
    // (ln r, ln f)
    val docs = Seq(("s", ("w " * 4 + "v " * 2 + "u").trim))
      .toDF("source", "text")
    val got = TextAnalysis.zipfSlope(docs, "source", "text")
      .select($"n_vocab", $"slope").as[(Long, Double)].head()
    val xs = Seq(1.0, 2.0, 3.0).map(math.log)
    val ys = Seq(4.0, 2.0, 1.0).map(math.log)
    val mx = xs.sum / 3; val my = ys.sum / 3
    val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    assert(got._1 == 3L)
    assert(math.abs(got._2 - slope) < 1e-9)
  }

  test("tfidfCosinePairs: identical docs ~1; template-only overlap scores low") {
    val docs = Seq(
      (1L, "alpha beta gamma rare1 rare1", "s"),
      (2L, "alpha beta gamma rare1 rare1", "s"),  // identical to 1
      (3L, "alpha beta gamma other other", "s"),  // shares template only
      (4L, "unrelated terms entirely", "s")
    ).toDF("doc_id", "text", "source")
    val sim = NearDup.tfidfCosinePairs(docs, "doc_id", "text",
        "source", 0.0)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(sim((1L, 2L)) - 1.0) < 1e-9)
    assert(sim((1L, 3L)) < sim((1L, 2L)))
    assert(!sim.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("sortedNeighborhoodPairs: identical docs sort adjacent and pair " +
      "at hamming 0; every pair respects the threshold") {
    val filler = (1 to 60).map(i =>
      (i.toLong, s"wholly distinct filler document number $i " +
        s"about topic${i % 7} carrying payload token$i and token${i + 1}"))
    val planted = Seq(
      (100L, "the planted twin document shared verbatim between copies"),
      (101L, "the planted twin document shared verbatim between copies"))
    val docs = (filler ++ planted).toDF("id", "text")
    val got = NearDup.sortedNeighborhoodPairs(docs, "id", "text",
        window = 4, maxHamming = 2)
      .as[(Long, Long, Int)].collect()
    val twins = got.filter(p => Set(p._1, p._2) == Set(100L, 101L))
    assert(twins.length == 1 && twins.head._3 == 0,
      s"planted twins must pair at hamming 0: ${got.toSeq}")
    assert(got.forall(_._3 <= 2))
  }

  test("bm25 ranks term-bearing docs, never returns a no-term doc") {
    val docs = Seq(
      (1L, "needle in a stack of words " + ("filler " * 30).trim),
      (2L, "needle needle short doc"),
      (3L, "no relevant terms at all")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.bm25(docs, "doc_id", "text", "needle", 10)
      .as[(Long, Double)].collect()
    assert(top.map(_._1).toSet == Set(1L, 2L))
    // doc 2: higher tf AND shorter than average → must outrank doc 1
    assert(top.maxBy(_._2)._1 == 2L)
  }

  test("classTerms surfaces the class-exclusive token first") {
    val docs = Seq(
      ("a", "common words plus quux quux quux"),
      ("b", "common words plus other stuff")
    ).toDF("source", "text")
    val top = TextAnalysis.classTerms(docs, "source", "text", 2)
      .select($"source", $"rnk", $"token")
      .as[(String, Int, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(top(("a", 1)) == "quux")  // exclusive AND frequent in a
    assert(Set("other", "stuff").contains(top(("b", 1)))) // b-exclusive
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val df = Seq(("a", "Hello   World"), ("b", "hello world"),
                 ("c", "hello worlds")).toDF("id", "text")
    val fp = df.select($"id", TextAnalysis.fingerprint($"text"))
      .as[(String, String)].collect().toMap
    assert(fp("a") == fp("b"))
    assert(fp("a") != fp("c"))
    assert(fp("a").length == 16)
  }

  test("wordShingles: n-grams in order; short docs → empty") {
    val df = Seq("a b c d", "a b").toDF("text")
    val got = df.select(TextAnalysis.wordShingles($"text", 3))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
  }

  test("langId picks the profile with most marker hits, first-wins ties") {
    val profiles = Seq("en" -> Seq("the", "is"), "de" -> Seq("der", "ist"))
    val df = Seq("the cat is here", "der hund ist da", "x y z").toDF("text")
    val got = df.select(TextAnalysis.langId($"text", profiles))
      .as[String].collect()
    assert(got.toSeq == Seq("en", "de", "en")) // no hits → first profile
  }

  test("quality score is in [0,1] and favors diverse text") {
    val df = Seq(("rep", ("spam " * 60).trim),
                 ("div", (1 to 60).map("w" + _).mkString(" "))).toDF("id", "text")
    val q = df.select($"id",
        TextAnalysis.qualityScoreOf($"text", TextAnalysis.tokens($"text")))
      .as[(String, Double)].collect().toMap
    assert(q.values.forall(v => v >= 0 && v <= 1))
    assert(q("div") > q("rep"))
  }

  test("packSequences: greedy fill, exact-fit, oversized docs, group reset") {
    val docs = Seq(
      // group A, budget 10: 4+6 fits exactly (fill+n > B is STRICT),
      // then 1 overflows → seq 1; a 25-token doc gets its own sequence;
      // the doc after it starts fresh
      ("A", 1L, 4L), ("A", 2L, 6L), ("A", 3L, 1L), ("A", 4L, 25L),
      ("A", 5L, 2L),
      // group B resets the state
      ("B", 6L, 9L), ("B", 7L, 2L)
    ).toDF("source", "doc_id", "n_tokens")
    val got = Packing.packSequences(docs, "source", "doc_id", "n_tokens",
        10L)
      .select($"doc_id", $"seq_id", $"seq_off")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (0L, 0L))
    assert(got(2L) == (0L, 4L)) // exact fit stays in seq 0
    assert(got(3L) == (1L, 0L))
    assert(got(4L) == (2L, 0L)) // oversized → own sequence
    assert(got(5L) == (3L, 0L)) // and the next doc starts fresh
    assert(got(6L) == (0L, 0L)) // group B starts at seq 0 again
    assert(got(7L) == (1L, 0L)) // 9+2 > 10
  }

  test("tokenChunks: overlap, full coverage, short docs, single chunk") {
    val docs = Seq(
      (1L, (1 to 10).map("t" + _).mkString(" ")), // 10 toks: 3 chunks
      (2L, "a b c"),                              // short: 1 whole chunk
      (3L, (1 to 4).map("t" + _).mkString(" "))   // == chunkSize: 1 chunk
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenChunks(docs, "doc_id", "text", 4, 3)
      .select($"doc_id", $"chunk_id", $"n_chunk_tokens", $"chunk_text")
      .as[(Long, Long, Int, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // doc 1: ceil((10-4)/3)+1 = 3 chunks at starts 0,3,6
    assert(got((1L, 0L)) == (4, "t1 t2 t3 t4"))
    assert(got((1L, 1L)) == (4, "t4 t5 t6 t7")) // 1-token overlap
    assert(got((1L, 2L)) == (4, "t7 t8 t9 t10"))
    assert(got((2L, 0L)) == (3, "a b c"))
    assert(got((3L, 0L)) == (4, "t1 t2 t3 t4"))
    assert(got.size == 5)
    // every token of doc 1 appears in some chunk (full coverage)
    val covered = got.collect { case ((1L, _), (_, txt)) => txt }
      .flatMap(_.split(" ")).toSet
    assert(covered == (1 to 10).map("t" + _).toSet)
  }

  test("graft_top_count == the O(n²) Column formulation on the real corpus") {
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      .union(Seq((90001L, Seq("solo")), (90002L, Seq.empty[String]),
        (90003L, Seq("a", "a", "a", "b"))).toDF("doc_id", "toks"))
    val both = docs.select($"doc_id",
        call_function("graft_top_count", $"toks").as("kernel"),
        coalesce(array_max(transform($"toks",
          x => size(filter($"toks", y => y === x)))), lit(0))
          .cast("long").as("hof"))
      .as[(Long, Long, Long)].collect()
    assert(both.nonEmpty && both.forall(r => r._2 == r._3),
      s"mismatches: ${both.filter(r => r._2 != r._3).take(5).toSeq}")
  }

  test("repetitionSignals flags repetitive docs, zero-shuffle plan") {
    val docs = Seq(
      (1L, ("spam " * 20).trim),                      // one token repeated
      (2L, (1 to 40).map("w" + _).mkString(" ")),     // fully diverse
      (3L, "ab ab cd cd " * 5 + "tail")               // duplicate 2-grams
    ).toDF("doc_id", "text")
    val sig = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .select($"doc_id", $"top_token_frac", $"dup_2gram_frac",
        $"repetition_ok")
      .as[(Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(sig(1L)._2 == 1.0 && !sig(1L)._4)
    assert(sig(2L)._2 == 0.025 && sig(2L)._3 == 0.0 && sig(2L)._4)
    assert(sig(3L)._3 > 0.5 && !sig(3L)._4)
    // scale shape: the whole derivation must stay in the scan stage
    val p = TextAnalysis.repetitionSignals(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"expected zero shuffles, got:\n$p")
    assert(!p.contains("Generate") && !p.contains("Aggregate"))
  }

  test("logisticQualityScore: bounded, monotone in diversity, scan-stage") {
    val df = Seq(
      ("rep", ("spam " * 60).trim),
      ("div", (1 to 60).map("w" + _).mkString(" ")),
      ("punct", "a. b, c; d: e! f? " * 10)).toDF("id", "text")
    val got = df.select($"id",
      TextAnalysis.logisticQualityScore($"text").as("s"))
      .as[(String, Double)].collect().toMap
    assert(got.values.forall(v => v > 0 && v < 1))
    assert(got("div") > got("rep"), s"diversity must raise the score: $got")
    assert(got("div") > got("punct"), s"punct must lower the score: $got")
    // inference is a pure map: no exchange, no aggregate
    val p = df.select(TextAnalysis.logisticQualityScore($"text"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Aggregate"))
  }

  test("removeBoilerplateLines: df-threshold lines vanish, order survives") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nreal content one\nfooter text"),
      (2L, "COOKIE BANNER\nreal content two\nfooter text"),
      (3L, "COOKIE BANNER\nunique stuff\nother ending"),
      (4L, "  COOKIE BANNER  \nindented banner still matches"),
      (5L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .removeBoilerplateLines(docs, "doc_id", "text", minDocs = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // banner df=4 (trimmed match incl. doc 4) removed; footer df=2 kept
    assert(got(1L) == ((3L, 1L, "real content one\nfooter text")))
    assert(got(2L) == ((3L, 1L, "real content two\nfooter text")))
    assert(got(3L) == ((3L, 1L, "unique stuff\nother ending")))
    assert(got(4L) == ((2L, 1L, "indented banner still matches")))
    // empty doc: one empty line, never boilerplate, survives unchanged
    assert(got(5L) == ((1L, 0L, "")))
  }

  test("removeBoilerplateLines: no line reaches the threshold → identity") {
    val docs = Seq((1L, "a\nb"), (2L, "c\nd")).toDF("doc_id", "text")
    val got = TextAnalysis
      .removeBoilerplateLines(docs, "doc_id", "text", minDocs = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(1L -> ((2L, 0L, "a\nb")), 2L -> ((2L, 0L, "c\nd"))))
  }

  test("redactPii counts per type and scrubs in precedence order") {
    val docs = Seq(
      (1L, "mail a.b+c@foo-bar.org or x@y.io thanks"),
      (2L, "host 192.168.0.1 and 10.0.0.255 up; ver 1.2 ok"),
      (3L, "call 555-123-4567 or 555.987.6543 today"),
      (4L, "clean text, nothing to scrub"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // (doc_id, n_email, n_ipv4, n_phone, redacted, n_pii)
    assert(got(0).getLong(1) == 2 && got(0).getLong(5) == 2)
    assert(got(0).getString(4) == "mail [EMAIL] or [EMAIL] thanks")
    assert(got(1).getLong(2) == 2)
    assert(got(1).getString(4) == "host [IP] and [IP] up; ver 1.2 ok")
    assert(got(2).getLong(3) == 2)
    assert(got(2).getString(4) == "call [PHONE] or [PHONE] today")
    assert(got(3).getLong(5) == 0 &&
      got(3).getString(4) == "clean text, nothing to scrub")
    // NULL text follows the text-operator contract: empty, zero counts
    assert(got(4).getLong(5) == 0 && got(4).getString(4) == "")
  }

  test("redactPii: email digits are not half-eaten by the IP pattern") {
    // the email is redacted FIRST, so its dotted digit runs never reach
    // the phone/IP patterns
    val docs = Seq((1L, "u12@h1.2.3.4e.com end")).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(docs, "doc_id", "text").head()
    assert(r.getString(4) == "[EMAIL] end")
  }

  test("sanitize: counts and repair; tab/LF/CR are NOT control damage") {
    val df = Seq(
      ("a\u0007b \uFFFD c"), // one BEL, one replacement char
      ("tab\there\nnewline\rcr"), // legitimate whitespace controls
      (null: String)
    ).toDF("text")
    val got = df.select(
        TextAnalysis.replacementCharCount($"text").as("r"),
        TextAnalysis.controlCharCount($"text").as("c"),
        TextAnalysis.sanitizeText($"text").as("s"))
      .as[(Int, Int, String)].collect()
    assert(got(0) == ((1, 1, "a b c")))
    assert(got(1) == ((0, 0, "tab here newline cr")))
    assert(got(2) == ((0, 0, "")))
  }

  test("sanitize is idempotent; replacement becomes a space, not glue") {
    val df = Seq("wor\u0000ld", "a\uFFFDb").toDF("text")
    val once = df.select(TextAnalysis.sanitizeText($"text").as("s"))
    val twice = once.select(TextAnalysis.sanitizeText($"s").as("s"))
    assert(once.as[String].collect().toSeq ==
           twice.as[String].collect().toSeq)
    // damage chars split words — "world" must NOT reassemble
    assert(once.as[String].collect().toSeq == Seq("wor ld", "a b"))
  }

  test("bigramLogProb: Laplace-smoothed corpus model, hand-computed") {
    // corpus: "a b" ×2 and "a c" ⇒ c(a)=3, c(b)=1, c(c)=1, V=3
    //   c(a b)=2, c(a c)=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val pab = math.log(3.0 / 6) // (2+1)/(3+3)
    val pac = math.log(2.0 / 6) // (1+1)/(3+3)
    assert(got(1L)._1 == 1L && math.abs(got(1L)._2 - pab) < 1e-12)
    assert(math.abs(got(3L)._2 - pac) < 1e-12)
    // single-token and empty docs emit nothing (no bigram to score)
    val degenerate = TextAnalysis.bigramLogProb(
      Seq((1L, "solo"), (2L, ""), (3L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(degenerate.count() == 0)
  }
}

class NearDupSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "s1"),
    (2L, "THE quick   Brown fox jumps over the lazy dog", "s1"), // = 1
    (3L, "the quick brown fox jumps over the lazy cat", "s1"),   // near 1
    (4L, "completely different words entirely here now", "s1"),
    (5L, "unrelated text in another block", "s2")
  ).toDF("doc_id", "text", "source")

  test("simhashNoveltyGate ≡ band-collision semantics; exact dups drop") {
    // contract: admitted = incoming docs sharing NO 16-bit band value
    // with any index doc — derive the expectation from the signatures
    // themselves (a one-word edit in a 9-token doc can exceed hamming
    // 3, so "near dup" membership is data-driven, not assumed)
    val index = docs.where($"doc_id" === 1L)
    val incoming = docs.where($"doc_id" =!= 1L)
    val sig = NearDup.simhash(docs, "doc_id", "text")
      .select($"doc_id", $"s0", $"s1", $"s2", $"s3")
      .as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    val expected = sig.keySet.filter(_ != 1L)
      .filter(id => sig(id).zip(sig(1L)).forall { case (a, b) => a != b })
    val admitted = NearDup.simhashNoveltyGate(incoming, index,
      "doc_id", "text").select($"doc_id").as[Long].collect().toSet
    assert(admitted == expected, s"admitted $admitted vs $expected")
    // an exact normalized dup collides in every band — always dropped
    assert(!admitted.contains(2L), "exact dup must be dropped")
    // the gate output carries the signature for downstream indexing
    val cols = NearDup.simhashNoveltyGate(incoming, index,
      "doc_id", "text").columns
    assert(cols.contains("simhash_hex"))
  }

  test("wider gate bands admit a superset; exact dups still drop") {
    // 32-bit bands (2 bands, pigeonhole hamming ≤ 1) gate strictly
    // less aggressively than the 16-bit default (4 bands, hamming ≤ 3)
    // — the saturation-free scale setting must only ever ADMIT more,
    // and an exact dup collides in every band at any width
    val index = docs.where($"doc_id" === 1L)
    val incoming = docs.where($"doc_id" =!= 1L)
    val at16 = NearDup.simhashNoveltyGate(incoming, index,
      "doc_id", "text").select($"doc_id").as[Long].collect().toSet
    val at32 = NearDup.simhashNoveltyGate(incoming, index,
      "doc_id", "text", bandBits = 32)
      .select($"doc_id").as[Long].collect().toSet
    assert(at16.subsetOf(at32), s"16-bit admits $at16 not in $at32")
    assert(!at32.contains(2L), "exact dup must drop at any band width")
    // hex rendering is band-width independent
    val hex16 = NearDup.simhashNoveltyGate(incoming, index,
      "doc_id", "text").select($"doc_id", $"simhash_hex")
      .as[(Long, String)].collect().toMap
    val hex32 = NearDup.simhashNoveltyGate(incoming, index,
      "doc_id", "text", bandBits = 32)
      .select($"doc_id", $"simhash_hex").as[(Long, String)].collect().toMap
    assert(at16.forall(id => hex16(id) == hex32(id)))
  }

  test("simhashNoveltyGate runs stateless on a streaming incoming side") {
    implicit val sq = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val index = docs.where($"doc_id" === 1L)
    val gated = NearDup.simhashNoveltyGate(
      in.toDF().toDF("doc_id", "text"), index, "doc_id", "text")
      .select($"doc_id")
    val q = gated.writeStream.format("memory").queryName("gate")
      .outputMode("append").start()
    try {
      in.addData(
        (20L, "THE quick   Brown fox jumps over the lazy dog"), // dup
        (40L, "completely different words entirely here now"))  // novel
      q.processAllAvailable()
      val got = spark.table("gate").as[Long].collect().toSet
      assert(got == Set(40L))
    } finally q.stop()
  }

  test("exactDedupClasses collapses normalized-equal docs") {
    val classes = NearDup.exactDedupClasses(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    assert(classes.length == 4)
    val dup = classes.find(_._3 == 2L).get
    assert(dup._2 == 1L) // canonical = min id
  }

  test("jaccardPairs: identical docs have jaccard 1, blocking respected") {
    val pairs = NearDup.jaccardPairs(docs, "doc_id", "text", "source", 3, 0.0)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSeq
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) == 1.0)
    assert(m((1L, 3L)) > 0.5 && m((1L, 3L)) < 1.0)
    assert(!m.keys.exists { case (a, b) => b == 5L }) // other block
  }

  test("canonicalDocs keeps the highest-rank member; ties broken in rank") {
    val ranked = Seq(
      (1L, "same text here", 10L), (2L, "Same   TEXT here", 30L), // dup class
      (3L, "same text here", 30L),                        // ties doc 2's rank
      (4L, "solo doc", 5L)
    ).toDF("doc_id", "text", "quality")
    // fold the id into the rank so ties resolve to the SMALLER id
    val got = NearDup.canonicalDocs(ranked, "doc_id", "text",
        $"quality" * 100 - $"doc_id")
      .as[(String, Long, Long)].collect()
    assert(got.length == 2)
    val dup = got.find(_._3 == 3L).get
    assert(dup._2 == 2L) // rank 30 beats 10; tie vs doc 3 → smaller id
    assert(got.find(_._3 == 1L).get._2 == 4L)
  }

  test("containmentPairs: an excerpt scores ~1 where jaccard would not") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "s1"),
      (2L, "alpha beta gamma delta", "s1"), // strict prefix of 1
      (3L, "iota kappa lambda mu", "s1")
    ).toDF("doc_id", "text", "source")
    val cont = NearDup.containmentPairs(corpus, "doc_id", "text",
        "source", 3, 0.0)
      .select($"a", $"b", $"containment").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(cont((1L, 2L)) == 1.0) // every shingle of 2 is in 1
    val jac = NearDup.jaccardPairs(corpus, "doc_id", "text",
        "source", 3, 0.0)
      .select($"a", $"b", $"jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(jac((1L, 2L)) < 0.5)  // 2 of 6 shingles shared
    assert(!cont.contains((1L, 3L))) // no common shingle → no pair row
  }

  test("contamination flags shared n-grams; decontaminate drops exactly them") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val train = Seq(
      // contains bench 5-gram "beta gamma delta epsilon zeta" (and
      // "alpha beta gamma delta epsilon") → contaminated, 2 shared
      (1L, "intro alpha beta gamma delta epsilon zeta outro"),
      (2L, "totally unrelated training text with many words"), // clean
      (3L, "one two three"), // < 5 tokens: can never be contaminated
      (4L, "five six seven eight nine ten eleven") // no shared 5-gram
    ).toDF("doc_id", "text")
    val contam = NearDup.contamination(train, bench, "doc_id", "text", 5)
      .as[(Long, Long)].collect().toMap
    assert(contam == Map(1L -> 2L))
    val kept = NearDup.decontaminate(train, bench, "doc_id", "text", 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L))
  }

  test("repeatedSpans finds cross-doc repeats as maximal coalesced spans") {
    val shared = "one two three four five six seven eight nine ten " +
      "eleven twelve" // 12 tokens, planted in docs 1 and 2
    val docs = Seq(
      (1L, s"aa bb cc $shared dd ee"),         // span at tokens 4..15
      (2L, s"$shared zz yy xx ww vv uu tt"),   // span at tokens 1..12
      (3L, "ff gg hh ii jj kk ll mm nn oo pp qq rr ss"), // unique: none
      // within-doc-ONLY repetition: df counts DISTINCT docs, so no span
      (4L, "rep tok rep tok rep tok rep tok rep tok rep tok rep tok")
    ).toDF("doc_id", "text")
    val got = NearDup.repeatedSpans(docs, "doc_id", "text", n = 5,
        minDf = 2)
      .as[(Long, Int, Int, Int)].collect().sortBy(r => (r._1, r._2))
    // 12-token repeat at n=5: 8 marks [p,p+4]..[p+7,p+11] coalesce to
    // one span of exactly the planted extent
    assert(got.toSeq == Seq((1L, 4, 15, 12), (2L, 1, 12, 12)))
  }

  test("contaminationScore grades every ≥n-token doc; rate = shared/total") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val train = Seq(
      // 8 tokens → 4 distinct 5-grams, 2 shared with bench
      (1L, "intro alpha beta gamma delta epsilon zeta outro"),
      (2L, "totally unrelated training text with many words"), // rate 0
      (3L, "one two three") // < 5 tokens: no grams, absent from report
    ).toDF("doc_id", "text")
    val got = NearDup.contaminationScore(train, bench, "doc_id", "text", 5)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(1L -> ((4L, 2L, 0.5)), 2L -> ((3L, 0L, 0.0))))
    // consistency with the binary rule: flagged == rate > 0
    val flagged = NearDup.contamination(train, bench, "doc_id", "text", 5)
      .as[(Long, Long)].collect().toMap.keySet
    assert(got.filter(_._2._3 > 0).keySet == flagged)
  }

  test("bloomContamination == exact contamination (bloom only prunes)") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = corpus.where($"doc_id" % 20 === 0)
    val train = corpus.where($"doc_id" % 20 =!= 0)
    val exact = NearDup.contamination(train, bench, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    val bloom = NearDup
      .bloomContamination(train, bench, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty) // 3-grams must actually contaminate something
    assert(bloom == exact)
    // the prefilter must actually be in the plan, as a scan-stage probe
    val p = NearDup.bloomContamination(train, bench, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"bloom probe missing:\n$p")
  }

  test("maxDf cap drops hot shingles and recounts set sizes consistently") {
    // "a b c" is shared by ALL five docs (the hot stopword-gram); each
    // doc's remaining shingles overlap only within the d1/d2 pair.
    val hot = Seq(
      (1L, "a b c x y z", "s1"),  // shingles: abc, bcx, cxy, xyz
      (2L, "a b c x y w", "s1"),  // shares bcx, cxy with d1
      (3L, "a b c q1 q2 q3", "s1"),
      (4L, "a b c r1 r2 r3", "s1"),
      (5L, "a b c s1 s2 s3", "s1")
    ).toDF("doc_id", "text", "source")
    // uncapped: every pair shares at least "a b c"
    val uncapped = NearDup.jaccardPairs(hot, "doc_id", "text", "source",
        3, 0.0).select($"a", $"b", $"jaccard")
      .as[(Long, Long, Double)].collect()
    assert(uncapped.length == 10) // all C(5,2) pairs
    // capped at df<=4: "a b c" (df=5) is dropped BEFORE set sizes are
    // counted, so d1/d2 have 3 shingles each sharing 2 → 2/(3+3-2)=0.5,
    // and the d3/d4/d5 pairs vanish entirely
    val capped = NearDup.jaccardPairs(hot, "doc_id", "text", "source",
        3, 0.0, maxDf = 4).select($"a", $"b", $"jaccard")
      .as[(Long, Long, Double)].collect()
    assert(capped.toSeq == Seq((1L, 2L, 0.5)))
  }

  test("jaccardPairsWithHandle: release() frees the pinned shingles") {
    // assert on the handle's OWN frames' blocks — suites share one
    // session and run concurrently, so the session-global
    // persistentRdds map carries other suites' blocks and is racy.
    // The intermediates are pinned (eager local checkpoint), NOT
    // persisted: Dataset.storageLevel (a CacheManager lookup) must stay
    // NONE throughout, and the storage truth lives on the pinned
    // LogicalRDD's underlying RDD.
    def pinnedRdds(dfs: Seq[org.apache.spark.sql.DataFrame]) =
      dfs.flatMap(_.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      })
    val (pairs, handle) = NearDup.jaccardPairsWithHandle(
      docs, "doc_id", "text", "source", 3, 0.0)
    pairs.count()
    assert(handle.cached.nonEmpty)
    assert(handle.cached.forall(
      _.storageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "the shingle table must NOT occupy the session CacheManager")
    val rdds = pinnedRdds(handle.cached)
    assert(rdds.nonEmpty && rdds.forall(
      _.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE),
      "the shingle table must be pinned (blocks on the checkpoint RDD)")
    handle.release(blocking = true)
    assert(rdds.forall(
      _.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "release() must free the operator's pinned intermediates")
  }

  test("minhash candidates include exact duplicates with est_jaccard 1") {
    val cand = NearDup.minhashCandidatePairs(docs, "doc_id", "text", 3, 16, 8)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(cand((1L, 2L)) == 1.0)
    assert(cand.getOrElse((1L, 3L), 0.0) > 0.3) // near-dup likely banded
  }

  test("simhash equal for normalized-equal docs, four 16-bit bands") {
    val sh = NearDup.simhash(docs, "doc_id", "text")
      .select("doc_id", "s0", "s1", "s2", "s3", "simhash_hex")
      .as[(Long, Int, Int, Int, Int, String)].collect()
      .map(r => r._1 -> (Seq(r._2, r._3, r._4, r._5), r._6)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.forall { case (bands, hex) =>
      bands.forall(v => v >= 0 && v < 65536) &&
        hex == f"${bands(3)}%04x${bands(2)}%04x${bands(1)}%04x${bands(0)}%04x"
    })
  }

  test("sourceMinhashSim: identical sources estimate 1, sketch merges") {
    val mk = (src: String, texts: Seq[String]) =>
      texts.zipWithIndex.map { case (t, i) => (src, i.toLong, t) }
    val docs = (mk("A", Seq("one two three four five", "six seven eight")) ++
      mk("B", Seq("one two three four five", "six seven eight")) ++
      mk("C", Seq("totally different words here now then")))
      .toDF("source", "doc_id", "text")
    val got = NearDup.sourceMinhashSim(docs, "source", "text", 3, 16)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("A", "B")) == ((16L, 1.0))) // same doc set ⇒ same sketch
    assert(got(("A", "C"))._1 < 16L)
    // mergeability: splitting a source's docs across partitions cannot
    // change its signature (min is commutative) — the estimate is the
    // same under any physical layout
    val re = NearDup.sourceMinhashSim(docs.repartition(13), "source",
        "text", 3, 16)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(re == got)
  }
}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f)), // close to 0
    (2L, Array(0f, 1f, 0f)),
    (3L, Array(0f, 0.9f, 0.1f)), // close to 2
    (4L, Array(0f, 0f, 1f))
  ).toDF("vec_id", "embedding")

  test("cosine of identical vectors is 1") {
    val d = vecs.select(Similarity.cosine($"embedding", $"embedding"))
      .as[Double].collect()
    assert(d.forall(v => math.abs(v - 1.0) < 1e-12))
  }

  test("semanticDecontaminate drops bench-similar corpus vectors only") {
    // corpus: 0/1 near-parallel to the bench vector, 2/4 orthogonal
    val bench = Seq((100L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = vecs.where($"vec_id" =!= 3L)
    val kept = Similarity.semanticDecontaminate(corpus, bench,
        "vec_id", "embedding", dim = 3, bits = 16, bandBits = 8,
        minCosine = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    // ids 0 and 1 (cos 1.0 / ≈0.994 to bench) must drop; orthogonal
    // vectors survive even if a band collides (exact rescore rejects)
    assert(kept == Set(2L, 4L))
  }

  test("bruteForceTopK ranks the nearest neighbor first") {
    val top1 = Similarity.bruteForceTopK(
        vecs.where($"vec_id" === 0), vecs, "vec_id", "embedding", 1)
      .select($"cand_id").as[Long].collect()
    assert(top1.toSeq == Seq(1L))
  }

  test("ivfAssign sends each vector to its nearest centroid") {
    val centroids = vecs.where($"vec_id".isin(0L, 2L, 4L))
    val asg = Similarity.ivfAssign(vecs, centroids, "vec_id", "embedding")
      .select($"vec_id", $"centroid_id").as[(Long, Long)].collect().toMap
    assert(asg == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 4L))
  }

  test("ivfTopK only probes the query's own cluster") {
    val centroids = vecs.where($"vec_id".isin(0L, 2L, 4L))
    val res = Similarity.ivfTopK(vecs.where($"vec_id" === 1),
        vecs, centroids, "vec_id", "embedding", 5)
      .select($"cand_id").as[Long].collect().toSet
    assert(res == Set(0L)) // cluster of centroid 0 holds only {0,1}
  }

  test("ivfAssignProbes probe 1 tracks ivfAssign even for zero norms") {
    // under ANSI mode (the Spark 4 default) a bare cosine division by a
    // zero norm THROWS; the operators instead score a no-signal pair as
    // Double.MinValue, so (a) a zero-norm CENTROID never wins a vector
    // with any signal, (b) nothing throws, and (c) probe rank 1 must
    // still be exactly ivfAssign's cell
    val centroids = vecs.where($"vec_id".isin(0L, 2L))
      .union(Seq((9L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val argmax = Similarity.ivfAssign(vecs, centroids, "vec_id", "embedding")
      .select($"vec_id", $"centroid_id").as[(Long, Long)].collect().toMap
    val probe1 = Similarity
      .ivfAssignProbes(vecs, centroids, "vec_id", "embedding", 2)
      .where($"probe_rank" === 1)
      .select($"vec_id", $"centroid_id").as[(Long, Long)].collect().toMap
    assert(!argmax.values.toSet.contains(9L)) // zero-norm centroid never wins
    assert(argmax == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 0L))
    assert(probe1 == argmax)
  }

  test("int8 quantization: bounds, zeros, ties-away-from-zero rounding") {
    import org.apache.spark.sql.functions.call_function
    val df = Seq(
      (1L, Array(1f, -1f, 0.5f, -0.5f)),   // ±127, round(63.5)=64, -64
      (2L, Array(0f, 0f, 0f)),             // zero vector → zero bytes
      (3L, Array(0.01f, 0.02f))
    ).toDF("vec_id", "embedding")
    val got = df.select($"vec_id",
        call_function("graft_quantize_i8", $"embedding").as("qv"))
      .as[(Long, Seq[Byte])].collect().toMap
    assert(got(1L) == Seq[Byte](127, -127, 64, -64))
    assert(got(2L) == Seq[Byte](0, 0, 0))
    assert(got(3L) == Seq[Byte](64, 127)) // 0.01/0.02*127 = 63.5 → 64
    val dots = df.where($"vec_id" === 1)
      .select(call_function("graft_dot_i8",
        call_function("graft_quantize_i8", $"embedding"),
        call_function("graft_quantize_i8", $"embedding")))
      .as[Long].collect()
    assert(dots.toSeq == Seq(127L * 127 + 127L * 127 + 64L * 64 + 64L * 64))
  }

  test("quantizedTopK: high recall vs brute force, survivors-only rerank") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantizedTopK(q, emb, "vec_id", "embedding",
        5, 20)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    // int8 with a 4x rerank window should recover nearly all true
    // neighbors; require >= 80% overlap so a quantization regression
    // (wrong rounding, broken dot) fails loudly
    val overlap = (exact & quant).size.toDouble / exact.size
    assert(overlap >= 0.8, s"recall $overlap; missing=${exact -- quant}")
  }

  test("zero-norm query vectors assign deterministically, without ANSI errors") {
    // a zero-norm VECTOR has no signal against any centroid: every score
    // is the MinValue sentinel and both paths fall back to the lowest
    // centroid id — deterministic, total, and throw-free
    val centroids = vecs.where($"vec_id".isin(2L, 4L))
    val zq = Seq((7L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val asg = Similarity.ivfAssign(zq, centroids, "vec_id", "embedding")
      .select($"centroid_id").as[Long].collect().toSeq
    assert(asg == Seq(2L))
    val probes = Similarity
      .ivfAssignProbes(zq, centroids, "vec_id", "embedding", 2)
      .select($"probe_rank", $"centroid_id").as[(Int, Long)].collect().toSet
    assert(probes == Set((1, 2L), (2, 4L)))
    // pair scoring: zero-norm sim is NULL → never passes a threshold
    val sims = Similarity.bruteForceTopK(zq, vecs, "vec_id", "embedding", 3)
      .select($"sim").collect()
    assert(sims.forall(_.isNullAt(0)))
  }

  test("ivfTopK nprobe=2 recovers boundary neighbors nprobe=1 misses") {
    // query 1 = (0.9, 0.1, 0): argmax cell is centroid 0's, but its
    // runner-up cell (centroid 2's, holding vectors 2 and 3) has real
    // neighbors the single-probe path can never see
    val centroids = vecs.where($"vec_id".isin(0L, 2L, 4L))
    val q = vecs.where($"vec_id" === 1)
    val probes = Similarity
      .ivfAssignProbes(q, centroids, "vec_id", "embedding", 2)
      .select($"probe_rank", $"centroid_id").as[(Int, Long)].collect().toSet
    assert(probes == Set((1, 0L), (2, 2L)))
    val two = Similarity.ivfTopK(q, vecs, centroids, "vec_id", "embedding",
        5, nprobe = 2)
      .select($"cand_id").as[Long].collect().toSet
    assert(two == Set(0L, 2L, 3L)) // centroid 4's cell stays unprobed
  }
}

class JaccardPropertySpec extends SparkTestBase {
  import spark.implicits._

  test("jaccardPairs matches an in-memory brute force on random corpora") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    for (trial <- 1 to 3) {
      val docs = (1L to 40L).map { id =>
        val n = 3 + rnd.nextInt(10)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
         s"blk${id % 2}")
      }
      // brute force: per-doc distinct 3-gram sets, all same-block pairs
      def shingleSet(text: String): Set[String] = {
        val t = text.split(" ").toSeq
        if (t.size < 3) Set.empty
        else t.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets = docs.map { case (id, text, blk) =>
        (id, blk, shingleSet(text)) }
      val expected = (for {
        (a, ba, sa) <- sets; (b, bb, sb) <- sets
        if a < b && ba == bb && (sa intersect sb).nonEmpty
        j = (sa intersect sb).size.toDouble / (sa union sb).size
        jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble if jr >= 0.2
      } yield (a, b, (sa intersect sb).size.toLong, jr)).toSet
      val got = NearDup.jaccardPairs(docs.toDF("doc_id", "text", "source"),
          "doc_id", "text", "source", 3, 0.2)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == expected, s"trial $trial")
    }
  }
}

class PipeFailureSpec extends SparkTestBase {
  import spark.implicits._

  test("a failing piped command fails the task and surfaces stderr") {
    val ds = Seq("x", "y").toDS().repartition(1)
    val e = intercept[org.apache.spark.SparkException] {
      Pipe.processPipe(ds,
        Seq("/bin/sh", "-c", "echo boom >&2; exit 3")).collect()
    }
    val msg = e.getCause match {
      case null => e.getMessage
      case c => c.getMessage
    }
    assert(msg.contains("exited 3"), msg)
    assert(msg.contains("boom"), s"stderr must be surfaced: $msg")
  }
}

class WinnowingSpec extends SparkTestBase {
  import spark.implicits._

  test("winnowing guarantee: a shared run of >= w+k-1 tokens shares a fingerprint") {
    // doc 2 contains doc 1's 6-token phrase (w+k-1 = 4+3-1 = 6) inside
    // otherwise-unrelated text; doc 3 shares nothing
    val phrase = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, phrase, "s"),
      (2L, s"completely other words here $phrase and more trailing stuff", "s"),
      (3L, "nothing in common with the others at all whatsoever", "s")
    ).toDF("doc_id", "text", "source")
    val pairs = NearDup.winnowPairs(docs, "doc_id", "text", "source", 3, 4)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"containment must be caught: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowed fingerprints are a subset of the k-gram hash set, never empty for real text") {
    val docs = Seq((1L, "a b c d e f g h i j", "s"), (2L, "a b", "s"),
                   (3L, "", "s")).toDF("doc_id", "text", "source")
    val fps = NearDup.winnowFingerprints(docs, "doc_id", Seq.empty,
        "text", 3, 4)
      .select($"doc_id", $"fps").as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).nonEmpty && fps(1L).size <= 8) // ≤ #k-grams
    assert(fps(2L).isEmpty)  // one token < k ⇒ no k-grams at all
    assert(fps(3L).isEmpty)
  }
}

class SimhashPairsSpec extends SparkTestBase {
  import spark.implicits._

  private def hamming(x: Seq[Int], y: Seq[Int]): Int =
    x.zip(y).map { case (a, b) => Integer.bitCount(a ^ b) }.sum

  test("simhashPairs == brute-force hamming<=3 pairs on the real corpus") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sigs = NearDup.simhash(docs, "doc_id", "text")
      .select("doc_id", "s0", "s1", "s2", "s3")
      .as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5))
    // brute force over ALL pairs: 4-band pigeonholing must have perfect
    // recall at hamming <= 3 (the pigeonhole guarantee) AND emit nothing
    // else
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && hamming(sa, sb) <= 3
    } yield (a, b, hamming(sa, sb))).toSet
    val got = NearDup.simhashPairs(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} spurious=${(got -- expected).take(5)}")
    assert(expected.nonEmpty) // the corpus must actually exercise this
  }

  test("fused kernel == exploded 64-sum formulation, bit for bit") {
    import org.apache.spark.sql.functions._
    // the formulation NearDup.simhash used before the graft_simhash
    // kernel: explode tokens, md5 each, 64 sum(simhashBitContribution)
    // aggregates, majority packing — the portable template the oracle
    // reproduces. The kernel must agree on every doc, including
    // punctuation-only, unicode, and single-token texts.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .union(Seq((90001L, "solo"), (90002L, "...!!!..."),
        (90003L, "héllo wörld héllo"), (90004L, " ")).toDF("doc_id", "text"))
    val tok = docs
      .select($"doc_id", TextAnalysis.tokens($"text").as("_toks"))
      .select($"doc_id", explode($"_toks").as("tok"))
      .withColumn("h", md5($"tok"))
    val sums = (0 until 64).map(p =>
      sum(TextAnalysis.simhashBitContribution($"h", p)).as(s"_b$p"))
    val bands = (0 to 3).map { j =>
      (0 until 16)
        .map(i => when(col(s"_b${16 * j + i}") > 0, lit(1 << i))
          .otherwise(lit(0)))
        .reduce(_ + _).cast("int").as(s"s$j")
    }
    val exploded = tok.groupBy($"doc_id").agg(sums.head, sums.tail: _*)
      .select($"doc_id" +: bands: _*)
      .as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val kernel = NearDup.simhash(docs, "doc_id", "text")
      .select("doc_id", "s0", "s1", "s2", "s3")
      .as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(kernel.size == exploded.size)
    assert(kernel == exploded)
  }
}

class SimhashSaturationSpec extends SparkTestBase {
  import spark.implicits._

  test("16-bit band buckets stay unsaturated on a 10x corpus") {
    // Over DISTINCT signatures (exact dups collapse; they'd inflate both
    // schemes equally), candidate work = sum over (band, value) buckets
    // of C(size, 2). The 16-bit bands must keep that far below all-pairs
    // AND far below 8-bit banding of the SAME signatures (4 bands x 256
    // values — an isolated bucket-width measurement; the retired scheme
    // was 2x8-bit bands of a 16-bit signature, narrower still in total
    // bucket count) — the measurement behind NearDup.simhashPairs's
    // scale note.
    val docs = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
    val sigs = NearDup.simhash(docs, "doc_id", "text")
      .select("s0", "s1", "s2", "s3").distinct()
      .as[(Int, Int, Int, Int)].collect()
      .map(r => Seq(r._1, r._2, r._3, r._4))
    val n = sigs.length.toLong
    def work(bandValue: Int => Int): Long =
      sigs.flatMap(s => s.map(bandValue).zipWithIndex)
        .groupBy(identity).values
        .map(c => c.size.toLong * (c.size - 1) / 2).sum
    val wide = work(identity)
    val narrow = work(_ & 255) // what 8-bit bands would bucket on
    assert(n > 1000)
    assert(wide * 20 < n * (n - 1) / 2,
      s"16-bit banding near all-pairs: work=$wide n=$n")
    assert(wide * 5 < narrow,
      s"16-bit banding not beating 8-bit: wide=$wide narrow=$narrow")
  }

  test("pmiBigrams: hand-computed association; degenerate docs contribute nothing") {
    val docs = Seq(
      (1L, "a b a b"),  // bigrams (a,b)×2, (b,a)×1
      (2L, "a b"),      // (a,b)×1
      (3L, "solo"),     // 1 token → no bigrams, still a unigram
      (4L, "   "),      // whitespace-only → zero tokens
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // unigrams a=3 b=3 solo=1 → Nu=7; bigrams (a,b)=3 (b,a)=1 → Nb=4
    val got = TextAnalysis.pmiBigrams(docs, "text", 1L)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.keySet == Set(("a", "b"), ("b", "a")))
    assert(got(("a", "b"))._1 == 3L && got(("b", "a"))._1 == 1L)
    val pab = math.log((3.0 / 4) / ((3.0 / 7) * (3.0 / 7)))
    val pba = math.log((1.0 / 4) / ((3.0 / 7) * (3.0 / 7)))
    assert(math.abs(got(("a", "b"))._2 - pab) < 5e-7)
    assert(math.abs(got(("b", "a"))._2 - pba) < 5e-7)
    // minCount prunes before the joins
    val capped = TextAnalysis.pmiBigrams(docs, "text", 2L)
      .as[(String, String, Long, Double)].collect()
    assert(capped.map(r => (r._1, r._2)).toSeq == Seq(("a", "b")))
  }

}
