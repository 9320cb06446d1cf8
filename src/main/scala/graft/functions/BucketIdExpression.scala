package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expression for the range-bucket id:
  * `bucket_id(pos, width) = floor(pos / width)` with non-negative inputs
  * — the reference's `reg = pos / chrRegionSize(chr)`
  * (`program/src/main/scala/hmushtaq/sparkga1/utils/SamRegionsParser.scala:60`).
  *
  * Why a custom Expression instead of `floor(col/width)`: the composed
  * form routes through DOUBLE division + floor (two casts, a double
  * divide, and a rounding call per row); for integral inputs the whole
  * thing is one integer division. `doGenCode` emits exactly that, so the
  * expression stays inside whole-stage codegen with zero boxing — the
  * pattern to follow for any hot scalar the engine needs that Spark
  * lacks.
  */
case class BucketId(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bucket_id"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"bucket_id needs (bigint, bigint), got " +
          s"(${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(pos: Any, width: Any): Any = {
    val w = width.asInstanceOf[Long]
    if (w <= 0L) 0 else (pos.asInstanceOf[Long] / w).toInt
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (pos, width) =>
      s"${ev.value} = ($width <= 0L) ? 0 : (int) ($pos / $width);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketId =
    copy(left = newLeft, right = newRight)
}

object BucketId {
  /** Column-API entry. Resolves through the session function registry,
    * which the extensions class fills (see [[GraftExtensions]]).
    */
  def apply(pos: Column, width: Column): Column =
    call_function("bucket_id", pos, width)
}

/** SparkSessionExtensions installer: registers the engine's functions
  * (`bucket_id(pos, width)` and the rest of `GraftExtensions.entries`)
  * for SQL and the Column API, and the [[graft.plans.AsOfJoinStrategy]]
  * planner strategy. `GraftSession.configure` sets
  * `spark.sql.extensions=graft.functions.GraftExtensions`, so every
  * engine session and every `newSession()` clone of one carries them;
  * any other session is built with
  * `SparkSession.builder.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.entries.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Add, ArrayDistinct, Cast, Coalesce, ConcatWs, Divide, Greatest, Least, Length, Literal, Lower, Md5, Multiply, RegExpReplace, Round, Size, StringSplit, StringTrim, Substring, Subtract}
  import org.apache.spark.sql.types.{DoubleType, LongType}

  /** Normalized text as a raw Catalyst tree (NULL→'' → lower → collapse
    * ws → trim) — the SQL-facing twin of TextAnalysis.normalize.
    */
  private def normalizeExpr(text: Expression): Expression =
    StringTrim(RegExpReplace(
      Lower(Coalesce(Seq(text, Literal("")))),
      Literal("\\s+"), Literal(" ")))

  /** Whitespace tokens of the normalized text (raw tree). */
  private def toksExpr(text: Expression): Expression =
    StringSplit(normalizeExpr(text), Literal(" "), Literal(-1))

  private def dbl(e: Expression): Expression = Cast(e, DoubleType)

  /** size(array_distinct(toks)) / size(toks) — TextAnalysis
    * .distinctTokenRatioOf as a raw tree.
    */
  private def distinctRatioExpr(toks: Expression): Expression =
    Divide(dbl(Size(ArrayDistinct(toks))), dbl(Size(toks)))

  /** TextAnalysis.punctRatio as a raw tree (NULL text = ''). */
  private def punctRatioExpr(text0: Expression): Expression = {
    val text = Coalesce(Seq(text0, Literal("")))
    Divide(
      dbl(Subtract(Length(text),
        Length(RegExpReplace(text, Literal("[\\.,;:!\\?]"), Literal(""))))),
      dbl(Greatest(Seq(Length(text), Literal(1)))))
  }

  /** TextAnalysis.qualityScoreOf as a raw tree: 0.4·lenScore +
    * 0.4·distinctRatio + 0.2·(1 − min(5·punctRatio, 1)), rounded to 6.
    */
  private def qualityExpr(text: Expression): Expression = {
    val toks = toksExpr(text)
    val nTok = dbl(Size(toks))
    val lenScore = Least(Seq(Divide(nTok, Literal(50d)), Literal(1d)))
    val punctPenalty = Subtract(Literal(1d),
      Least(Seq(Multiply(punctRatioExpr(text), Literal(5d)), Literal(1d))))
    Round(
      Add(Add(Multiply(lenScore, Literal(0.4)),
              Multiply(distinctRatioExpr(toks), Literal(0.4))),
          Multiply(punctPenalty, Literal(0.2))),
      Literal(6))
  }

  private def arity(name: String, n: Int)(
      builder: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      if (children.size != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${children.size}")
      builder(children)
    }

  /** Constructor parameter of a SQL aggregate call (k, gap, dim…):
    * must be an integral literal — it configures the Aggregator
    * instance at resolution time, it is not a per-row input.
    */
  private def intParam(name: String, e: Expression): Long = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case _ => throw new IllegalArgumentException(
      s"$name parameter must be an integer literal, got $e")
  }

  /** The engine's typed `Aggregator`s as SQL aggregate functions: wrap
    * the aggregator in Spark's own `ScalaAggregator` bridge — a
    * `TypedImperativeAggregate` with partial/final merge, exactly what
    * `functions.udaf(...)` builds on the Column API path — and hand the
    * analyzer the `AggregateExpression` (the same shape
    * `spark.udf.register(name, udaf)` produces). `ImplicitCastInputTypes`
    * on the bridge coerces SQL arguments to the input encoder's schema,
    * so `graft_topk(int_col, …)` works without manual casts.
    */
  private def aggExpr[I, B, O](
      agg: org.apache.spark.sql.expressions.Aggregator[I, B, O],
      inEnc: org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[I],
      children: Seq[Expression], name: String): Expression =
    org.apache.spark.sql.execution.aggregate.ScalaAggregator(
      children, agg, inEnc,
      agg.bufferEncoder.asInstanceOf[
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[B]],
      nullable = true, isDeterministic = true, 0, 0, Some(name))
      .toAggregateExpression()

  private[functions] val entries: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("bucket_id"),
       new ExpressionInfo(classOf[BucketId].getName, "bucket_id"),
       // widen integer args like built-in arithmetic does
       arity("bucket_id", 2)(c => BucketId(
         Cast(c(0), org.apache.spark.sql.types.LongType),
         Cast(c(1), org.apache.spark.sql.types.LongType)))),
      // graft_fingerprint(text): 16-hex-char md5 of the normalized text
      (FunctionIdentifier("graft_fingerprint"),
       new ExpressionInfo(classOf[Md5].getName, "graft_fingerprint"),
       arity("graft_fingerprint", 1)(c =>
         Substring(Md5(Cast(normalizeExpr(c.head),
             org.apache.spark.sql.types.BinaryType)),
           Literal(1), Literal(16)))),
      // graft_token_count(text): whitespace token count of normalized text
      (FunctionIdentifier("graft_token_count"),
       new ExpressionInfo(classOf[Size].getName, "graft_token_count"),
       arity("graft_token_count", 1)(c => Size(toksExpr(c.head)))),
      // graft_normalize(text): the canonical text form itself
      (FunctionIdentifier("graft_normalize"),
       new ExpressionInfo(classOf[StringTrim].getName, "graft_normalize"),
       arity("graft_normalize", 1)(c => normalizeExpr(c.head))),
      // graft_distinct_ratio(text): distinct-token / token count
      (FunctionIdentifier("graft_distinct_ratio"),
       new ExpressionInfo(classOf[Divide].getName, "graft_distinct_ratio"),
       arity("graft_distinct_ratio", 1)(c =>
         distinctRatioExpr(toksExpr(c.head)))),
      // graft_mean_token_len(text): mean token length in characters
      (FunctionIdentifier("graft_mean_token_len"),
       new ExpressionInfo(classOf[Divide].getName, "graft_mean_token_len"),
       arity("graft_mean_token_len", 1) { c =>
         val toks = toksExpr(c.head)
         Divide(dbl(Length(ConcatWs(Seq(Literal(""), toks)))),
                dbl(Size(toks)))
       }),
      // graft_punct_ratio(text): punctuation-character fraction
      (FunctionIdentifier("graft_punct_ratio"),
       new ExpressionInfo(classOf[Divide].getName, "graft_punct_ratio"),
       arity("graft_punct_ratio", 1)(c => punctRatioExpr(c.head))),
      // graft_quality(text): the composite quality score in [0,1]
      (FunctionIdentifier("graft_quality"),
       new ExpressionInfo(classOf[Round].getName, "graft_quality"),
       arity("graft_quality", 1)(c => qualityExpr(c.head))),
      // graft_dot(a, b): codegen'd float/double array dot product
      (FunctionIdentifier("graft_dot"),
       new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
       arity("graft_dot", 2)(c => DotProduct(c(0), c(1)))),
      // graft_shingles(toks, n): codegen'd word n-gram shingle array
      (FunctionIdentifier("graft_shingles"),
       new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
       arity("graft_shingles", 2) { c =>
         val n = c(1) match {
           case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
           case _ => throw new IllegalArgumentException(
             "graft_shingles width must be an INT literal")
         }
         WordShingles(c(0), n)
       }),
      // graft_count_in(toks, set): literal-set membership count
      (FunctionIdentifier("graft_count_in"),
       new ExpressionInfo(classOf[CountInExpr].getName, "graft_count_in"),
       arity("graft_count_in", 2)(c => CountInExpr(c(0), c(1)))),
      // graft_eq_count(a, b): positions where two long arrays agree
      // (the MinHash signature match-counter)
      (FunctionIdentifier("graft_eq_count"),
       new ExpressionInfo(classOf[EqCountExpr].getName, "graft_eq_count"),
       arity("graft_eq_count", 2)(c => EqCountExpr(c(0), c(1)))),
      // graft_bloom_agg(xxh64, items, bits): Bloom filter aggregate over
      // pre-hashed LONG values — Spark's own runtime-filter aggregate
      // (internal, not SQL-registered upstream), exposed for explicit
      // membership prefilters
      (FunctionIdentifier("graft_bloom_agg"),
       new ExpressionInfo(
         classOf[org.apache.spark.sql.catalyst.expressions.aggregate
           .BloomFilterAggregate].getName, "graft_bloom_agg"),
       arity("graft_bloom_agg", 3)(c =>
         new org.apache.spark.sql.catalyst.expressions.aggregate
           .BloomFilterAggregate(c(0), c(1), c(2)))),
      // graft_might_contain(bf, xxh64): Bloom membership probe; the
      // filter side must be a literal/foldable (collect the one-row
      // aggregate and inline it via lit())
      (FunctionIdentifier("graft_might_contain"),
       new ExpressionInfo(
         classOf[org.apache.spark.sql.catalyst.expressions
           .BloomFilterMightContain].getName, "graft_might_contain"),
       arity("graft_might_contain", 2)(c =>
         org.apache.spark.sql.catalyst.expressions
           .BloomFilterMightContain(c(0), c(1)))),
      // graft_quantize_i8(vec): symmetric per-vector int8 quantization
      (FunctionIdentifier("graft_quantize_i8"),
       new ExpressionInfo(classOf[QuantizeI8Expr].getName,
         "graft_quantize_i8"),
       arity("graft_quantize_i8", 1)(c => QuantizeI8Expr(c.head))),
      // graft_dot_i8(a, b): exact integer dot of two int8 vectors
      (FunctionIdentifier("graft_dot_i8"),
       new ExpressionInfo(classOf[DotI8Expr].getName, "graft_dot_i8"),
       arity("graft_dot_i8", 2)(c => DotI8Expr(c(0), c(1)))),
      // graft_top_count(arr): max element multiplicity (repetition stats)
      (FunctionIdentifier("graft_top_count"),
       new ExpressionInfo(classOf[TopCountExpr].getName, "graft_top_count"),
       arity("graft_top_count", 1)(c => TopCountExpr(c.head))),
      // graft_simhash(toks): fused 64-bit SimHash signature kernel
      (FunctionIdentifier("graft_simhash"),
       new ExpressionInfo(classOf[SimHash64Expr].getName, "graft_simhash"),
       arity("graft_simhash", 1)(c => SimHash64Expr(c.head))),
      // graft_hyperplane_sig(vec, bits, bandBits, dim): fused
      // random-hyperplane LSH band values; the plane bank is derived
      // from the literals at build time (md5-seeded constants)
      (FunctionIdentifier("graft_hyperplane_sig"),
       new ExpressionInfo(classOf[HyperplaneSigExpr].getName,
         "graft_hyperplane_sig"),
       arity("graft_hyperplane_sig", 4) { c =>
         val args = c.drop(1).map {
           case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
           case _ => throw new IllegalArgumentException(
             "graft_hyperplane_sig bits/bandBits/dim must be INT literals")
         }
         HyperplaneSigExpr(c.head,
           HyperplaneSigExpr.planes(args(0), args(2)), args(1))
       }),
      // graft_nfc(str) / graft_strip_accents(str): Unicode hygiene
      // kernels (ASCII fast path returns the input buffer untouched)
      (FunctionIdentifier("graft_nfc"),
       new ExpressionInfo(classOf[NfcExpr].getName, "graft_nfc"),
       arity("graft_nfc", 1)(c => NfcExpr(c.head))),
      (FunctionIdentifier("graft_strip_accents"),
       new ExpressionInfo(classOf[StripAccentsExpr].getName,
         "graft_strip_accents"),
       arity("graft_strip_accents", 1)(c => StripAccentsExpr(c.head))),
      // graft_char_entropy(str): codepoint Shannon entropy in bits
      (FunctionIdentifier("graft_char_entropy"),
       new ExpressionInfo(classOf[CharEntropyExpr].getName,
         "graft_char_entropy"),
       arity("graft_char_entropy", 1)(c => CharEntropyExpr(c.head))),
      // graft_damerau(a, b): unrestricted Damerau-Levenshtein distance
      (FunctionIdentifier("graft_damerau"),
       new ExpressionInfo(classOf[DamerauExpr].getName, "graft_damerau"),
       arity("graft_damerau", 2)(c => DamerauExpr(c(0), c(1)))),
      // graft_winnow(toks, k, w): fused winnowing-fingerprint kernel
      (FunctionIdentifier("graft_winnow"),
       new ExpressionInfo(classOf[WinnowFingerprintsExpr].getName,
         "graft_winnow"),
       arity("graft_winnow", 3) { c =>
         val args = c.drop(1).map {
           case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
           case _ => throw new IllegalArgumentException(
             "graft_winnow k and w must be INT literals")
         }
         WinnowFingerprintsExpr(c.head, args(0), args(1))
       }),
      // graft_zorder(x, y): Morton interleave of two bucket coords
      (FunctionIdentifier("graft_zorder"),
       new ExpressionInfo(classOf[ZorderExpr].getName, "graft_zorder"),
       arity("graft_zorder", 2)(c =>
         ZorderExpr(Cast(c(0), LongType), Cast(c(1), LongType)))),
      // graft_jaro_winkler(a, b): order-tolerant linkage confidence
      (FunctionIdentifier("graft_jaro_winkler"),
       new ExpressionInfo(classOf[JaroWinklerExpr].getName,
         "graft_jaro_winkler"),
       arity("graft_jaro_winkler", 2)(c =>
         JaroWinklerExpr(c(0), c(1)))),
      // graft_lcp(a, b): longest-common-prefix length, one O(n) scan
      // (the HOF substr-tree alternative is O(n²) per row)
      (FunctionIdentifier("graft_lcp"),
       new ExpressionInfo(classOf[LcpExpr].getName, "graft_lcp"),
       arity("graft_lcp", 2)(c => LcpExpr(c(0), c(1)))),
      // graft_script_counts(text): (latin, cyrillic, han, digit)
      // codepoint counts in one scan — the 4-regex-passes alternative
      // allocates a single-char UTF8String PER CODEPOINT
      (FunctionIdentifier("graft_script_counts"),
       new ExpressionInfo(classOf[ScriptCountsExpr].getName,
         "graft_script_counts"),
       arity("graft_script_counts", 1)(c => ScriptCountsExpr(c(0)))),
      // graft_bpe_count(text): BPE-ish pre-tokenization token count
      // of already-lowercased text, no per-token allocation
      (FunctionIdentifier("graft_bpe_count"),
       new ExpressionInfo(classOf[BpeTokenCountExpr].getName,
         "graft_bpe_count"),
       arity("graft_bpe_count", 1)(c => BpeTokenCountExpr(c(0)))),
      // graft_ws_count(text): whitespace-token count == size(split(
      // normalize(text), " ")) without the regexp_replace rebuild,
      // the split array, or the per-token strings
      (FunctionIdentifier("graft_ws_count"),
       new ExpressionInfo(classOf[WsTokenCountExpr].getName,
         "graft_ws_count"),
       arity("graft_ws_count", 1)(c => WsTokenCountExpr(c(0)))),
      // graft_md5_long60(s, hexPos): 60-bit md5 prefix as LONG —
      // value-identical to conv(substring(md5(s), hexPos, 15), 16, 10)
      // cast to bigint, without the hex-string round-trip
      (FunctionIdentifier("graft_md5_long60"),
       new ExpressionInfo(classOf[Md5Long60Expr].getName,
         "graft_md5_long60"),
       arity("graft_md5_long60", 2) { c =>
         Md5Long60Expr(c(0), intParam("graft_md5_long60 hexPos", c(1)).toInt)
       }),
      // ---- typed AGGREGATES on the SQL surface ----
      // graft_interval_union(start, end, n, gap): gap-tolerant
      // interval-set union → array<struct<start,end,n>> (bounded
      // map-side state; gap is a literal constructor param)
      (FunctionIdentifier("graft_interval_union"),
       new ExpressionInfo(classOf[IntervalUnionAgg].getName,
         "graft_interval_union"),
       arity("graft_interval_union", 4) { c =>
         val gap = intParam("graft_interval_union gap", c(3))
         aggExpr(new IntervalUnionAgg(gap),
           org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Iv](),
           c.take(3), "graft_interval_union")
       }),
      // graft_topk(ord, id, k): bounded top-k by (ord DESC, id ASC) →
      // array<struct<ord,id>>; the shuffle carries ≤ k rows per
      // (partition, key) where the row_number window carries them all
      (FunctionIdentifier("graft_topk"),
       new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
       arity("graft_topk", 3) { c =>
         val k = intParam("graft_topk k", c(2)).toInt
         aggExpr(new TopKAgg(k),
           org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Kv](),
           c.take(2), "graft_topk")
       }),
      // graft_reservoir(hash, v, k): deterministic k-smallest-(hash,v)
      // subsample → sorted array<double> for positional quantiles
      (FunctionIdentifier("graft_reservoir"),
       new ExpressionInfo(classOf[ReservoirAgg].getName,
         "graft_reservoir"),
       arity("graft_reservoir", 3) { c =>
         val k = intParam("graft_reservoir k", c(2)).toInt
         aggExpr(new ReservoirAgg(k),
           org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Hv](),
           c.take(2), "graft_reservoir")
       }),
      // graft_vec_sum(vec, d): exact element-wise float-vector sum on a
      // 1e-6-grain Long buffer → array<bigint> (micro-units)
      (FunctionIdentifier("graft_vec_sum"),
       new ExpressionInfo(classOf[VecSumAgg].getName, "graft_vec_sum"),
       arity("graft_vec_sum", 2) { c =>
         val d = intParam("graft_vec_sum dim", c(1)).toInt
         aggExpr(new VecSumAgg(d),
           org.apache.spark.sql.catalyst.encoders
             .ExpressionEncoder[Seq[Float]](),
           c.take(1), "graft_vec_sum")
       }),
      // graft_gram(vec, d): one-pass quantized Gram accumulation →
      // array<bigint> (row-major d×d, micro²-units)
      (FunctionIdentifier("graft_gram"),
       new ExpressionInfo(classOf[GramAgg].getName, "graft_gram"),
       arity("graft_gram", 2) { c =>
         val d = intParam("graft_gram dim", c(1)).toInt
         aggExpr(new GramAgg(d),
           org.apache.spark.sql.catalyst.encoders
             .ExpressionEncoder[Seq[Float]](),
           c.take(1), "graft_gram")
       }))
}
