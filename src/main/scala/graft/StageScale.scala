package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stages an N× copy-shifted twin of a testdata directory (builder
  * tooling, not part of the driver contract — used for the sf1-scale
  * bench leg, VERDICT r12 #6: gated numbers need a second scale point,
  * not just probe rows).
  *
  * Each table becomes `copies` id-shifted copies (one explode + one
  * generator, not a copies-branch union) with EVERY join key of a
  * family shifted by the SAME constant, so referential integrity — and
  * therefore join fan-out — is preserved: copy i of lineitem joins copy
  * i of part/orders/customer and nothing else, exactly how a corpus
  * that grew 10× organically would join. Fixed dims (region, nation)
  * are copied unscaled and nation/region foreign keys stay unshifted.
  * `user_id` on events shifts too: disjoint user populations = N× the
  * event RATE (the production axis), not N² per-user join fan-out.
  *
  * Output mirrors the testdata layout — ONE FILE literally named
  * `<table>.parquet` per table — so directory globs and the streaming
  * file source (`globFilter = events.parquet`) behave identically to
  * the driver's layout.
  *
  * CONTENT COLUMNS perturb per copy instead of duplicating verbatim
  * (r14 lesson: verbatim text made every similarity query see the
  * whole corpus as `copies`×-duplicated — symdelete blocks emitted
  * ~copies² pairs for copies× data, a 100× blowup at 10× that
  * excluded q142 from the scale leg and made q155 flap; a corpus that
  * grew organically contains NEW content, not verbatim clones).
  * Copy 0 stays verbatim (the base corpus is a literal subset);
  * copies ≥ 1 get deterministic perturbation: `customer.c_name` takes
  * a "~<copy><copy><copy>" suffix (any two distinct copies differ by
  * ≥ 3 edits, so symdelete blocking at maxDist ≤ 2 can never collide
  * across copies), and `documents.text` suffixes EVERY token with
  * "~<copy>" (token/shingle vocabularies of distinct copies are
  * disjoint, so minhash/jaccard/simhash/winnow treat copies as fresh
  * documents; per-copy token statistics stay parallel to the base).
  * `n_chars` is recomputed to stay consistent with the perturbed text.
  * `embeddings.embedding` gets a per-copy deterministic SIGN FLIP — an
  * orthogonal transform that preserves every intra-copy inner product
  * (and therefore recall semantics) exactly while decorrelating copies
  * (r15 VERDICT #4: the verbatim-duplicated vectors kept the ANN
  * family out of the gated scale leg).
  *
  * Usage: runMain graft.StageScale <srcDir> <dstDir> <copies>
  */
object StageScale {
  /** Must exceed every key in the source by a wide margin (sf0.1 maxima
    * are ~6e5); copies stay disjoint far beyond the scales staged here.
    */
  val keyShift = 100000000L

  /** Join-key families per table: every column here shifts by
    * `_copy * keyShift`, and columns listed for two tables (e.g.
    * l_partkey / p_partkey) shift by the same amount — that is the
    * referential-integrity invariant.
    */
  val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private[graft] def widen(df: DataFrame, copies: Int,
                           keys: Seq[String],
                           table: String = ""): DataFrame = {
    val exploded = df.withColumn("_copy",
      explode(sequence(lit(0L), lit(copies - 1L))))
    val shifted = keys.foldLeft(exploded)((d, c) =>
      d.withColumn(c, col(c) + col("_copy") * lit(keyShift)))
    perturbContent(shifted, table).drop("_copy")
  }

  /** Per-copy content perturbation (see class doc): requires a `_copy`
    * column; copy 0 is always returned verbatim.
    */
  private[graft] def perturbContent(df: DataFrame,
                                    table: String): DataFrame = {
    val cpy = col("_copy")
    // Each DIGIT of the copy number repeated 3x — NOT the whole number
    // repeated (ADVICE r15: repeat() of a multi-digit copy gave copy 12
    // -> "~121212" vs copy 21 -> "~212121", only 2 edits apart — inside
    // symdelete maxDist<=2). Digit-tripling is provably >=3 apart for
    // ANY two distinct copies: same-length suffixes differ in >=1 digit
    // = >=3 substituted positions; different lengths differ by >=3
    // characters. Single-digit copies are unchanged ("111" either way),
    // so previously staged twins stay byte-identical.
    val copyTag = regexp_replace(cpy.cast("string"), "(.)", "$1$1$1")
    table match {
      case "customer" =>
        df.withColumn("c_name", when(cpy === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("~"), copyTag)))
      case "documents" =>
        // Only suffix NON-EMPTY tokens: split on " " yields "" for
        // consecutive/leading/trailing spaces, and suffixing those
        // would mint bare "~N" tokens the base copy does not have —
        // breaking the 'per-copy token statistics stay parallel'
        // contract for non-clean text (ADVICE r15).
        val words = transform(split(col("text"), " "),
          w => when(length(w) > 0,
            concat(w, lit("~"), cpy.cast("string"))).otherwise(w))
        df.withColumn("text", when(cpy === 0, col("text"))
            .otherwise(array_join(words, " ")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // Per-copy deterministic SIGN FLIP (VERDICT r15 #4: verbatim
        // vector duplication kept the ANN family out of the scale leg).
        // v'_d = s(copy,d) * v_d with s in {+1,-1} from a seeded hash of
        // (copy, dimension) is an ORTHOGONAL transform per copy: every
        // intra-copy inner product — and therefore every cosine, every
        // neighbor set, every recall number — is preserved EXACTLY
        // (sum s_d^2 u_d v_d = <u,v>), while cross-copy products see
        // random sign products and decorrelate, exactly how 10x of
        // organically new embedded content behaves. Copy 0 verbatim.
        val flipped = zip_with(
          col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, d) => when(pmod(hash(cpy, d), lit(2)) === 0, x)
            .otherwise(-x))
        // Empty-vector guard (ADVICE r16): size=0 makes
        // sequence(0, -1) yield [0,-1] (auto-negative step) and
        // zip_with null-pads — an empty embedding would become
        // [null, null] in non-zero copies. Empties pass through.
        df.withColumn("embedding",
          when(cpy === 0 || size(col("embedding")) <= 0, col("embedding"))
            .otherwise(flipped.cast("array<float>")))
      case _ => df
    }
  }

  private def writeOneFile(df: DataFrame, dst: String, table: String,
                           rowGroupBytes: Option[Long] = None): Unit = {
    val tmp = s"$dst/_stage_$table"
    // r18 measurement-layout fix: coalesce(1) + the default 128 MB
    // parquet.block.size wrote the ENTIRE scaled table as ONE ROW
    // GROUP (sf1 lineitem: 6 M rows, 80 MB, 1 group). Row groups are
    // parquet's split unit, so every sf1 scan decoded on ONE task —
    // scan-bound queries read as "superlinear" purely from the twin's
    // layout (guide §2.5: one huge unsplittable file). A corpus that
    // grew N× organically arrives as N× more files/row groups, so the
    // twin now sizes row groups to the SOURCE file's bytes: N copies ≈
    // N row groups — scan parallelism grows exactly with the data
    // (per-task scan work identical to base, never more than N× the
    // base's parallelism). The one-file-per-table layout contract
    // (streaming globFilter, directory mirror) is untouched.
    val w0 = df.coalesce(1).write.mode("overwrite")
    val w = rowGroupBytes.fold(w0)(b =>
      w0.option("parquet.block.size", math.max(b, 1L << 20).toString))
    w.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().toSeq
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    val target = new java.io.File(s"$dst/$table.parquet")
    if (target.exists()) target.delete()
    require(part.renameTo(target), s"rename $part -> $target failed")
    LocalFs.deleteRecursively(new java.io.File(tmp))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: StageScale <srcDir> <dstDir> <copies>")
    val (src, dst, copies) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dst).mkdirs()
    keyCols.toSeq.sortBy(_._1).foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val scaled = keys.nonEmpty && copies > 1
      val out = if (scaled) widen(df, copies, keys, t) else df
      // scaled tables: one row group per source-file-sized slice (≈ one
      // per copy); unscaled dims keep the writer default
      val rg = if (scaled)
        Some(new java.io.File(s"$src/$t.parquet").length()) else None
      writeOneFile(out, dst, t, rg)
      // staged-vs-source audit, same discipline as the streaming probe
      val n = spark.read.parquet(s"$dst/$t.parquet").count()
      val expect = df.count() * (if (scaled) copies else 1)
      require(n == expect, s"$t: staged $n rows, expected $expect")
      println(s"[stage] $t: $n rows " +
        (if (scaled) s"(${copies}x)" else "(unscaled dim)"))
    }
    spark.stop()
  }
}
