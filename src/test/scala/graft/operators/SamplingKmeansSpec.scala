package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkTestBase {
  import spark.implicits._

  test("hash sample is deterministic and near the requested rate") {
    val df = (1 to 10000).toDF("id")
    val a = Sampling.hashSample(df, "id", 51).as[Int].collect().toSet
    val b = Sampling.hashSample(df.repartition(7), "id", 51)
      .as[Int].collect().toSet
    assert(a == b) // partition-layout independent
    val rate = a.size / 10000.0
    assert(rate > 0.15 && rate < 0.25, s"rate $rate")
  }

  test("thresholds 0 and 256 are empty / full") {
    val df = (1 to 100).toDF("id")
    assert(Sampling.hashSample(df, "id", 0).count() == 0)
    assert(Sampling.hashSample(df, "id", 256).count() == 100)
  }

  test("stratified rates apply per stratum") {
    val df = (1 to 4000).map(i => (i, if (i % 2 == 0) "big" else "small"))
      .toDF("id", "src")
    val sampled = Sampling.stratifiedHashSample(df, "id", "src",
      Map("big" -> 26), defaultThreshold256 = 128)
    val counts = sampled.groupBy($"src").count()
      .as[(String, Long)].collect().toMap
    assert(counts("big") < 400)            // ~10% of 2000
    assert(counts("small") > 800)          // ~50% of 2000
  }

  test("mixtureSample keeps the binding stratum whole, rebalances the rest") {
    // A has 200 rows, B has 10, target 1:1 — B binds (kept whole, t=256)
    // and A downsamples to ~B's size via the hash predicate
    val df = ((1L to 200L).map(i => (i, "A")) ++
      (201L to 210L).map(i => (i, "B")) ++
      (211L to 220L).map(i => (i, "dropped"))).toDF("id", "src")
    val got = Sampling.mixtureSample(df, "id", "src",
      Map("A" -> 1L, "B" -> 1L))
      .as[(Long, String)].collect()
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(!bySrc.contains("dropped"))
    assert(bySrc("B") == 10, s"binding stratum must be whole: $bySrc")
    // nMax = min(400, 20) = 20 → A keeps 256·20/400 = 12/256 ≈ 4.7%
    assert(bySrc.getOrElse("A", 0) > 0 && bySrc("A") <= 20,
      s"A must downsample toward B's size: $bySrc")
    // deterministic: same input → byte-identical sample
    val again = Sampling.mixtureSample(df, "id", "src",
      Map("A" -> 1L, "B" -> 1L)).as[(Long, String)].collect()
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("upsample total == base copies + hash-selected fraction, exactly") {
    // the fractional extra copy uses the SAME md5 predicate as
    // hashSample, so the output size is exactly predictable
    val df = (1L to 777L).toDF("id")
    val frac128 = Sampling.hashSample(df, "id", 128).count() // (5%2)*256/2
    assert(Sampling.upsample(df, "id", 5, 2).count() == 2 * 777 + frac128)
    val frac85 = Sampling.hashSample(df, "id", 85).count() // (1%3)*256/3
    assert(Sampling.upsample(df, "id", 1, 3).count() == frac85)
  }

  test("mixtureSample proportions: random weights, exact threshold math") {
    val rnd = new scala.util.Random(79)
    for (_ <- 1 to 3) {
      val sizes = Map("a" -> (rnd.nextInt(300) + 50),
                      "b" -> (rnd.nextInt(300) + 50),
                      "c" -> (rnd.nextInt(300) + 50))
      val weights = Map("a" -> (rnd.nextInt(5) + 1).toLong,
                        "b" -> (rnd.nextInt(5) + 1).toLong,
                        "c" -> (rnd.nextInt(5) + 1).toLong)
      val rows = sizes.toSeq.flatMap { case (s, n) =>
        (1 to n).map(i => (s"$s$i".hashCode.toLong * 1000 + i, s)) }
      val df = rows.toDF("id", "src")
      val got = Sampling.mixtureSample(df, "id", "src", weights)
        .as[(Long, String)].collect()
      val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
      // replicate the operator's integer threshold derivation
      val total = weights.values.sum
      val nMax = sizes.map { case (s, n) => n * total / weights(s) }.min
      sizes.foreach { case (s, n) =>
        val t = math.min(256L, 256L * weights(s) * nMax / (total * n))
        if (t == 256L)
          assert(bySrc(s) == n, s"binding stratum $s must be whole")
        else {
          // hash predicate keeps ~t/256 of the stratum; exact count is
          // data-dependent, but it can never exceed the stratum and the
          // /256-granular rate should land within a loose CLT band
          val expect = n * t / 256.0
          val slack = 4 * math.sqrt(expect) + 4
          assert(math.abs(bySrc.getOrElse(s, 0) - expect) <= slack,
            s"$s: got ${bySrc.getOrElse(s, 0)}, expected ~$expect ± $slack")
        }
      }
    }
  }

  test("upsample: integer factor is exact, fractional is hash-selected") {
    val df = (1L to 1000L).toDF("id")
    // 3/1: every row exactly 3 times, copy_ids 1..3
    val x3 = Sampling.upsample(df, "id", 3, 1)
      .as[(Long, Int)].collect()
    assert(x3.length == 3000)
    assert(x3.groupBy(_._1).values
      .forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3)))
    // 5/2 = 2.5×: each row 2 or 3 times, total near 2500, deterministic
    val x25 = Sampling.upsample(df, "id", 5, 2).as[(Long, Int)].collect()
    val perRow = x25.groupBy(_._1).view.mapValues(_.length)
    assert(perRow.values.forall(n => n == 2 || n == 3))
    assert(x25.length > 2350 && x25.length < 2650, s"got ${x25.length}")
    val againX25 = Sampling.upsample(df, "id", 5, 2)
      .as[(Long, Int)].collect()
    assert(x25.sorted.toSeq == againX25.sorted.toSeq)
    // 1/2 degenerates to a plain ~50% downsample (base 0, filtered)
    val half = Sampling.upsample(df, "id", 1, 2).as[(Long, Int)].collect()
    assert(half.forall(_._2 == 1))
    assert(half.length > 400 && half.length < 600)
  }

  test("leakageSafeSplit: classes never straddle splits; buckets match md5") {
    val docs = (1L to 400L).toDF("doc_id")
    // chains of 4: {1..4}, {5..8}, ... — each class must stay together
    val pairs = (1L to 400L).filter(i => i % 4 != 0)
      .map(i => (i, i + 1)).toDF("a", "b")
    val got = Sampling
      .leakageSafeSplit(docs, pairs, "doc_id", train256 = 200, val256 = 26)
      .as[(Long, Long, Long, String)].collect()
    assert(got.length == 400 && got.forall(_._3 == 4L))
    val byComponent = got.groupBy(_._2)
    assert(byComponent.size == 100)
    assert(byComponent.values.forall(_.map(_._4).distinct.length == 1),
      "a duplicate class straddled splits")
    // assignment replays as md5 of the component id, thresholds c8/e2
    def md5hex2(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .take(1).map("%02x".format(_)).mkString
    got.foreach { case (_, comp, _, split) =>
      val h = md5hex2(comp.toString)
      val want = if (h < "c8") "train" else if (h < "e2") "val" else "test"
      assert(split == want, s"component $comp: $split != $want")
    }
    val bySplit = got.groupBy(_._4).view.mapValues(_.length).toMap
    // 78/10/12% of 400 with 100 classes — generous band, determinism is
    // the contract, the fractions only need to be in family
    assert(bySplit.getOrElse("train", 0) > 240)
    assert(bySplit.getOrElse("val", 0) > 8 || bySplit.getOrElse("test", 0) > 8)
  }

  test("matchDistribution: binding bucket whole, off-support dropped") {
    import org.apache.spark.sql.functions._
    // target: bucket 0 ×100, bucket 1 ×100, bucket 2 ×50 (not in ref)
    // ref: bucket 0 ×90, bucket 1 ×10 → rates r0=0.9, r1=0.1;
    // keep0 = 1 (binding), keep1 = 1/9, bucket 2 dropped
    val target = ((1 to 100).map(i => (i.toLong, 0L)) ++
      (101 to 200).map(i => (i.toLong, 1L)) ++
      (201 to 250).map(i => (i.toLong, 2L))).toDF("id", "b")
    val ref = ((1 to 90).map(_ => 0L) ++ (1 to 10).map(_ => 1L))
      .toDF("b")
    val got = Sampling.matchDistribution(target, ref, "id", $"b", "t")
      .select($"id", $"b").as[(Long, Long)].collect()
    val byB = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byB.getOrElse(2L, 0) == 0)       // off-support bucket gone
    assert(byB(0L) == 100)                  // binding bucket kept whole
    assert(byB(1L) > 0 && byB(1L) < 40)     // ~1/9 of 100 survive
    // determinism: identical on re-run
    val again = Sampling.matchDistribution(target, ref, "id", $"b", "t")
      .select($"id").as[Long].collect().toSet
    assert(again == got.map(_._1).toSet)
  }

  test("tokenBudgetSample is the exact md5-order prefix (replayed)") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 300L).map(i => (i, 1L + rnd.nextInt(40)))
    val docs = rows.toDF("id", "n")
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val inOrder = rows.sortBy(r => md5hex(r._1.toString))
    val budget = 2000L
    val want = scala.collection.mutable.Set[Long]()
    var cum = 0L
    inOrder.foreach { case (id, n) =>
      cum += n; if (cum <= budget) want += id
    }
    val got = Sampling.tokenBudgetSample(docs, "id", col("n"), budget)
      .as[(Long, Long)].collect()
    assert(got.map(_._1).toSet == want.toSet)
    assert(got.map(_._2).sum <= budget)
    // determinism across re-runs (and across partition layouts)
    val again = Sampling
      .tokenBudgetSample(docs.repartition(7), "id", col("n"), budget)
      .as[(Long, Long)].collect()
    assert(again.map(_._1).toSet == want.toSet)
  }

  test("tokenBudgetSample edges: budget covers all; budget zero") {
    val docs = Seq((1L, 5L), (2L, 5L)).toDF("id", "n")
    val all = Sampling.tokenBudgetSample(docs, "id", col("n"), 100L)
      .as[(Long, Long)].collect()
    assert(all.map(_._1).toSet == Set(1L, 2L))
    val none = Sampling.tokenBudgetSample(docs, "id", col("n"), 0L)
      .as[(Long, Long)].collect()
    assert(none.isEmpty)
  }

  test("weightedSample: deterministic, partition-independent, k-bounded") {
    val docs = (1L to 200L).map(i => (i, i % 10 + 1)).toDF("id", "w")
    val a = Sampling.weightedSample(docs, "id", col("w"), 50, "s")
      .select("id").as[Long].collect().toSet
    val b = Sampling.weightedSample(docs.repartition(7), "id", col("w"),
      50, "s").select("id").as[Long].collect().toSet
    assert(a == b && a.size == 50)
    // k >= n returns everything
    val all = Sampling.weightedSample(docs, "id", col("w"), 500, "s")
    assert(all.count() == 200)
  }

  test("weightedSample inclusion odds track the weights (A-ES property)") {
    // two strata: weight 20 vs weight 1, equal counts — the heavy
    // stratum must dominate a half-size sample
    val docs = (1L to 400L).map(i => (i, if (i <= 200) 20L else 1L))
      .toDF("id", "w")
    val picked = Sampling.weightedSample(docs, "id", col("w"), 200, "p")
      .select("id").as[Long].collect()
    val heavy = picked.count(_ <= 200)
    assert(heavy > 150, s"heavy stratum picked only $heavy/200")
  }

  test("leakageSafeSplit: exhausted budget (train256=256) is all train") {
    val docs = (1L to 50L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val got = Sampling
      .leakageSafeSplit(docs, pairs, "doc_id", train256 = 256, val256 = 0)
      .as[(Long, Long, Long, String)].collect()
    assert(got.forall(_._4 == "train"))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("ppsSystematic matches the single-pass stride walk exactly") {
    val pop = (1L to 200L).map(i => (i, (i % 13) + 1L))
    val df = pop.toDF("id", "w")
    val n = 17L
    val got = Sampling.ppsSystematic(df, "id", "w", n)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    // reference: walk the md5-ordered population on one thread
    val ordered = pop.sortBy { case (id, _) => md5hex(id.toString) }
    val tot = pop.map(_._2).sum
    var cum = 0L
    val want = ordered.flatMap { case (id, w) =>
      cum += w
      val hits = (cum * n) / tot - ((cum - w) * n) / tot
      if (hits >= 1) Some(id -> ((w, hits))) else None
    }.toMap
    assert(got == want)
    assert(got.values.map(_._2).sum == n) // strides all land somewhere
    // partitioning-invariant: same draw from a repartitioned input
    val re = Sampling.ppsSystematic(df.repartition(7), "id", "w", n)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(re == want)
  }

  test("ppsSystematic: heavy item certain, multiplicity reported") {
    // one item holds > 2 strides of the total weight
    val df = Seq((1L, 100L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 5L))
      .toDF("id", "w")
    val got = Sampling.ppsSystematic(df, "id", "w", 4L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got(1L) >= 3L) // w=100 of W=120, stride=30 ⇒ ≥3 hits
    assert(got.values.sum == 4L)
    // zero/negative weights are excluded, never divide the stride
    val z = Sampling.ppsSystematic(
      Seq((1L, 10L), (2L, 0L), (3L, -4L)).toDF("id", "w"), "id", "w", 2L)
      .as[(Long, Long, Long)].collect()
    assert(z.map(_._1).toSet == Set(1L) && z.head._3 == 2L)
  }
}

class KmeansIterSpec extends SparkTestBase {
  import spark.implicits._

  test("one Lloyd step: means move toward cluster members") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.8f, 0.2f)),   // cluster around x
      (2L, Array(0f, 1f)), (3L, Array(0.2f, 0.8f))    // cluster around y
    ).toDF("vec_id", "embedding")
    val cents = vecs.where($"vec_id".isin(0L, 2L))
    val got = Similarity.kmeansIter(vecs, cents, "vec_id", "embedding")
      .select($"centroid_id", $"pos", $"mean", $"n_members")
      .as[(Long, Int, Double, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got((0L, 1)) == (0.9, 2L))   // mean of 1.0, 0.8
    assert(got((0L, 2)) == (0.1, 2L))
    assert(got((2L, 1)) == (0.1, 2L))
    assert(got((2L, 2)) == (0.9, 2L))
  }

  private def vecs(rows: (Long, Seq[Float])*) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) =>
        Row(id, v) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  test("kmeansTrain(1) equals kmeansIter exactly") {
    val data = vecs(1L -> Seq(1f, 0f), 2L -> Seq(0.9f, 0.1f),
      3L -> Seq(0f, 1f), 4L -> Seq(0.1f, 0.9f))
    val init = vecs(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("centroid_id"), col("pos"))
        .as[(Long, Int, Double, Long)].collect().toSeq
    assert(rows(Similarity.kmeansTrain(data, init, "vec_id",
        "embedding", 1)) ==
      rows(Similarity.kmeansIter(data, init, "vec_id", "embedding")))
  }

  test("kmeansInit picks the k smallest-md5 ids deterministically") {
    val data = vecs((1L to 10L).map(i => i -> Seq(i.toFloat, 1f)): _*)
    val got = Similarity.kmeansInit(data, "vec_id", "embedding", 3)
      .select("vec_id").as[Long].collect().toSet
    // independent twin of the md5-on-decimal-id convention (the same
    // one q37/hashSample and the q290 oracle replay)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = (1L to 10L)
      .sortBy { i =>
        md.digest(i.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }.take(3).toSet
    assert(got == expect, s"got $got expect $expect")
    assert(Similarity.kmeansInit(data, "vec_id", "embedding", 3)
      .select("vec_id").as[Long].collect().toSet == got) // stable
  }

  test("kmeansTrain tol stop halts scanning once centroids stop moving") {
    // two tight clusters with init AT their exact means: round 1's
    // update shifts nothing, so tol training must stop after ONE
    // collected round + the final stats scan. The corpus counts its
    // own materializations via an accumulator (1 partition → 1 tick
    // per scan): fixed 5-iteration training scans 5×, tol scans 2×,
    // and both return identical stats.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = Seq(Row(1L, Seq(1f, 0f)), Row(2L, Seq(1f, 0f)),
      Row(3L, Seq(0f, 1f)), Row(4L, Seq(0f, 1f)))
    def counted(acc: org.apache.spark.util.LongAccumulator) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1)
          .mapPartitions { it => acc.add(1); it },
        schema)
    val init = vecs(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("centroid_id"), col("pos"))
        .as[(Long, Int, Double, Long)].collect().toSeq
    val accFixed = spark.sparkContext.longAccumulator("fixed")
    val fixed = stats(Similarity.kmeansTrain(counted(accFixed), init,
      "vec_id", "embedding", iterations = 5))
    val accTol = spark.sparkContext.longAccumulator("tol")
    val tol = stats(Similarity.kmeansTrain(counted(accTol), init,
      "vec_id", "embedding", iterations = 5, tol = 1e-9))
    assert(fixed == tol, s"fixed $fixed vs tol $tol")
    assert(accFixed.value == 5L, s"fixed scans = ${accFixed.value}")
    assert(accTol.value == 2L, s"tol scans = ${accTol.value}")
  }

  test("kmeansTrain tol=0 preserves the fixed-iteration behavior") {
    val data = vecs(1L -> Seq(1f, 0f), 2L -> Seq(0.8f, 0.2f),
      3L -> Seq(0f, 1f), 4L -> Seq(0.3f, 0.7f))
    val init = vecs(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("centroid_id"), col("pos"))
        .as[(Long, Int, Double, Long)].collect().toSeq
    assert(stats(Similarity.kmeansTrain(data, init, "vec_id",
        "embedding", 3)) ==
      stats(Similarity.kmeansTrain(data, init, "vec_id",
        "embedding", 3, tol = 0.0)))
  }

  test("kmeansTrain keeps an empty cell's centroid alive across rounds") {
    // two IDENTICAL init centroids: round 1 ties both vectors into
    // cell 0 (strict > keeps the lowest id), leaving cell 1 EMPTY —
    // carryover must keep c1 = (1,0) alive. The proof it did: in round
    // 2 the moved c0 = (0.9, 0.1) no longer matches v1 = (1,0) exactly,
    // so v1 RE-JOINS cell 1 (cosine 1.0 beats ~0.9939) — impossible if
    // the empty cell had been dropped. Final split: one vector per
    // cell, cell 1's mean exactly its carried direction.
    val data = vecs(1L -> Seq(1f, 0f), 2L -> Seq(0.8f, 0.2f))
    val init = vecs(0L -> Seq(1f, 0f), 1L -> Seq(1f, 0f))
    val out = Similarity.kmeansTrain(data, init, "vec_id",
        "embedding", 3)
      .orderBy(col("centroid_id"), col("pos"))
      .as[(Long, Int, Double, Long)].collect().toSeq
    assert(out.map(_._1).distinct == Seq(0L, 1L), s"got $out")
    assert(out.forall(_._4 == 1L), s"got $out") // one vector per cell
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._3)) ==
      Seq((1, 1.0), (2, 0.0)), s"got $out")
  }
}

class CosineNearDupSpec extends SparkTestBase {
  import spark.implicits._

  test("near-identical vectors in the same cell pair up; distant ones don't") {
    // two tight clusters around orthogonal axes + one exact duplicate pair
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),   // centroid 0
      (1L, Array(0f, 1f, 0f, 0f)),   // centroid 1
      (10L, Array(10f, 0.1f, 0f, 0f)),
      (11L, Array(10f, 0.1f, 0f, 0f)),  // exact dup of 10
      (12L, Array(9f, 0f, 0.2f, 0f)),
      (20L, Array(0f, 5f, 0f, 0.1f)),
      (21L, Array(0.1f, 5f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val cents = vecs.where($"vec_id" < 2)
    val pairs = Similarity.cosineNearDupPairs(vecs, cents, "vec_id",
      "embedding", 0.95).select($"a", $"b", $"sim")
      .as[(Long, Long, Double)].collect().toSet
    val ids = pairs.map(p => (p._1, p._2))
    assert(ids.contains((10L, 11L)))   // the exact duplicate
    assert(pairs.find(p => (p._1, p._2) == (10L, 11L)).get._3 == 1.0)
    assert(ids.contains((20L, 21L)))   // tight cluster-1 pair
    // cross-cell pairs are never emitted (cell blocking): cell 0 holds
    // {0, 10, 11, 12} (x-axis cluster), cell 1 holds {1, 20, 21}
    val cell0 = Set(0L, 10L, 11L, 12L)
    assert(!ids.exists { case (a, b) => cell0(a) != cell0(b) })
  }
}

class HyperplaneLshSpec extends SparkTestBase {
  import spark.implicits._

  test("hyperplanes are deterministic, in [-1,1), and md5-derived") {
    val h1 = Similarity.hyperplanes(8, 16)
    val h2 = Similarity.hyperplanes(8, 16)
    assert(h1 == h2)
    assert(h1.flatten.forall(c => c >= -1d && c < 1d))
    // spot-check one component against the portable formula
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("hp:3:7".getBytes("UTF-8")).map(b => f"$b%02x")
      .mkString.substring(0, 15)
    val expect = java.lang.Long.parseLong(hex, 16).toDouble /
      (1L << 60).toDouble * 2d - 1d
    assert(h1(3)(7) == expect)
  }

  test("fused kernel ≡ per-bit HOF formulation (seeded property)") {
    val rnd = new scala.util.Random(29)
    val dim = 12; val bits = 16; val bandBits = 4
    val vecs = (0L until 30L)
      .map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(bits, dim)
    // the reference semantics the kernel scaladoc promises: per-bit
    // when(round(aggregate(zip_with(..)), 6) > 0, 1<<i).otherwise(0)
    val hofBands = (0 until bits / bandBits).map { b =>
      (0 until bandBits).map { i =>
        val j = b * bandBits + i
        when(round(aggregate(zip_with(col("embedding"),
            typedlit(planes(j)), (x, y) => x.cast("double") * y),
          lit(0d), (acc, v) => acc + v), 6) > 0d, lit(1 << i))
          .otherwise(lit(0))
      }.reduce(_ + _).as(s"h$b")
    }
    val expected = vecs.select(col("vec_id") +: hofBands: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to bits / bandBits).map(r.getInt)).toMap
    val got = vecs.select(col("vec_id"),
        call_function("graft_hyperplane_sig", col("embedding"),
          lit(bits), lit(bandBits), lit(dim)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got == expected)
  }

  test("bandBits over 31 is rejected (Int band packing would overflow)") {
    val vecs = Seq((1L, Array(1f, 2f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.hyperplaneLshPairs(vecs, "vec_id", "embedding",
        dim = 2, bits = 32, bandBits = 32, minCosine = 0.5)
    }
    assert(e.getMessage.contains("1..31"))
  }

  test("identical kernel expressions compare equal (plan-cache reuse)") {
    // planes are Seq, not Array: case-class equality must be
    // structural or Catalyst's cache/CSE lookups always miss
    import graft.functions.HyperplaneSigExpr
    val one = org.apache.spark.sql.catalyst.expressions.Literal(1)
    val a = HyperplaneSigExpr(one, HyperplaneSigExpr.planes(8, 4), 4)
    val b = HyperplaneSigExpr(one, HyperplaneSigExpr.planes(8, 4), 4)
    assert(a == b)
  }

  test("kernel edge semantics: wrong dim / null element → all-zero bands") {
    val vecs = Seq(
      (1L, Array(1f, 2f)),              // dim mismatch (expects 3)
      (2L, Array(1f, 2f, 3f))           // clean
    ).toDF("vec_id", "embedding")
    val got = vecs.select(col("vec_id"),
        call_function("graft_hyperplane_sig", col("embedding"),
          lit(8), lit(4), lit(3)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) == Seq(0, 0))
    assert(got(2L) != Seq(0, 0))
  }

  test("cross-band collisions dedup to one scored row each") {
    // identical vectors collide in EVERY band (4 candidate copies per
    // pair at bits=32/bandBits=8); the in-stream scored join (r18:
    // cosine computed on the band join's output, distinct AFTER the
    // threshold) must still emit exactly one (a, b, sim) row per pair
    val rnd = new scala.util.Random(7)
    val v = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val far = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val df = Seq((1L, v), (2L, v.clone()), (3L, v.clone()), (9L, far))
      .toDF("vec_id", "embedding")
    val got = Similarity.hyperplaneLshPairs(df, "vec_id", "embedding",
        dim = 16, bits = 32, bandBits = 8, minCosine = 0.98)
      .as[(Long, Long, Double)].collect()
    val dupPairs = got.map(p => (p._1, p._2))
    assert(dupPairs.length == dupPairs.distinct.length,
      s"duplicate (a,b) rows survived the cross-band distinct: ${got.mkString(",")}")
    assert(dupPairs.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got.forall(_._3 == 1.0))
  }

  test("planted near-duplicates are recalled; precision is exact") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    // 40 random base vectors; every 4th gets a near-identical twin
    // (tiny perturbation — cosine ≈ 1, so all 32 sign bits agree whp)
    val base = (0L until 40L).map(i => (i, vec()))
    val twins = base.collect { case (i, v) if i % 4 == 0 =>
      (100L + i, v.map(x => x + 0.001f))
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val got = Similarity.hyperplaneLshPairs(df, "vec_id", "embedding",
        dim = dim, bits = 32, bandBits = 8, minCosine = 0.98)
      .as[(Long, Long, Double)].collect()
    // precision: every reported pair really is >= the threshold
    assert(got.forall(_._3 >= 0.98))
    // recall on the planted twins: all 10 must surface
    val pairs = got.map(p => (p._1, p._2)).toSet
    val planted = base.collect { case (i, _) if i % 4 == 0 =>
      (i, 100L + i) }.toSet
    assert(planted.subsetOf(pairs),
      s"missing planted twins: ${planted -- pairs}")
  }

  test("semanticDedup keeps the smaller id; chains drop every follower") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val base = (0L until 20L).map(i => (i, vec()))
    // ids 100+i are exact copies of every 5th base vector, and 200+i a
    // copy of the copy — a chain base < copy < copycopy
    val copies = base.collect { case (i, v) if i % 5 == 0 =>
      Seq((100L + i, v.clone), (200L + i, v.clone)) }.flatten
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding",
        dim = dim, bits = 32, bandBits = 8, minCosine = 0.999)
      .select("vec_id").as[Long].collect().toSet
    // every base survives; every copy (and copy-of-copy) drops
    assert((0L until 20L).forall(kept))
    assert(copies.map(_._1).forall(id => !kept(id)),
      s"copies must drop, kept: ${copies.map(_._1).filter(kept)}")
  }
}

class RegexTokensSpec extends SparkTestBase {
  import spark.implicits._

  test("BPE-ish split: alnum runs + single punct chars; NULL-safe") {
    val df = Seq(("Hello, world! x2 a-b"), (""), (null: String)).toDF("t")
    val got = df.select(TextAnalysis.regexTokens($"t").as("toks"),
      TextAnalysis.regexTokenCount($"t").as("n"))
      .as[(Seq[String], Int)].collect()
    assert(got(0)._1 == Seq("hello", ",", "world", "!", "x2", "a", "-", "b"))
    assert(got(0)._2 == 8)
    assert(got(1)._2 == 0 && got(2)._2 == 0) // '' and NULL both count 0
  }

}
