package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq((1L, "hello world"), (2L, "binary payload test"))
    .toDF("doc_id", "text")

  test("attachPayload: opaque binary + metadata struct, bytes round-trip") {
    val df = Multimodal.attachPayload(docs, "doc_id", "text")
    assert(df.schema("payload").dataType.typeName == "binary")
    val row = df.where($"doc_id" === 1).select($"payload", $"meta.n_bytes",
      $"meta.mime").head
    assert(new String(row.getAs[Array[Byte]](0), "UTF-8") == "hello world")
    assert(row.getInt(1) == 11)
    assert(row.getString(2) == "text/plain")
  }

  test("extractFeatures: non-media payloads decode as raw, never throw") {
    val df = Multimodal.attachPayload(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, df, "doc_id")
      .collect().map(f => f.doc_id -> f).toMap
    val expected = "hello world".getBytes("UTF-8").map(_ & 0xff).sum
    assert(feats(1L).checksum == expected)
    assert(feats(1L).n_bytes == 11)
    assert(feats(1L).format == "raw" && feats(1L).width == -1)
  }

  test("BMP encode -> decode round-trips width/height and size formula") {
    for ((w, h) <- Seq((1, 1), (3, 2), (17, 5), (640, 480))) {
      val f = Multimodal.decodeMedia(9L, Multimodal.encodeBmp(w, h))
      assert(f.format == "bmp" && f.width == w && f.height == h)
      assert(f.n_bytes == 54 + (w * 3 + 3) / 4 * 4 * h)
      assert(f.sample_rate == -1 && f.channels == -1)
    }
  }

  test("WAV encode -> decode round-trips rate/channels and size formula") {
    for ((sr, ch, ns) <- Seq((8000, 1, 0), (44100, 2, 100), (16000, 1, 7))) {
      val f = Multimodal.decodeMedia(9L, Multimodal.encodeWav(sr, ch, ns))
      assert(f.format == "wav" && f.sample_rate == sr && f.channels == ch)
      assert(f.n_bytes == 44 + ns * ch * 2)
      assert(f.width == -1 && f.height == -1)
    }
  }

  test("PNG IHDR header decodes big-endian dims; truncated magic is raw") {
    val png = new Array[Byte](24)
    png(0) = 0x89.toByte; png(1) = 'P'; png(2) = 'N'; png(3) = 'G'
    // IHDR width=300 (0x12C), height=70000 (0x11170), big-endian
    png(16) = 0; png(17) = 0; png(18) = 1; png(19) = 0x2c
    png(20) = 0; png(21) = 1; png(22) = 0x11.toByte; png(23) = 0x70
    val f = Multimodal.decodeMedia(9L, png)
    assert(f.format == "png" && f.width == 300 && f.height == 70000)
    // 2-byte "BM" alone is below the BMP header minimum -> raw, no throw
    val g = Multimodal.decodeMedia(9L, Array[Byte]('B', 'M'))
    assert(g.format == "raw" && g.n_bytes == 2)
  }

  test("JPEG encode -> decode round-trips dims via the SOF marker walk") {
    for ((w, h, cl) <- Seq((1, 1, 0), (41, 29, 15), (1920, 1080, 7))) {
      val f = Multimodal.decodeMedia(9L, Multimodal.encodeJpeg(w, h, cl))
      assert(f.format == "jpeg" && f.width == w && f.height == h)
      assert(f.n_bytes == 21 + cl)
      assert(f.sample_rate == -1 && f.channels == -1)
    }
    // SOI followed by EOI only (no frame header) is raw, never a throw
    val noFrame = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xd9.toByte)
    assert(Multimodal.decodeMedia(9L, noFrame).format == "raw")
    // truncated mid-segment: the walk runs off the end cleanly
    val trunc = Multimodal.encodeJpeg(10, 10, 8).take(7)
    assert(Multimodal.decodeMedia(9L, trunc).format == "raw")
    // blob truncated INSIDE a 0xFF fill run: the fill-skip loop reaches
    // the tail and the walk must bail, not read a length field past the
    // end (regression: this threw ArrayIndexOutOfBoundsException)
    val fillTail = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xff.toByte, 0xff.toByte, 0xe0.toByte)
    assert(Multimodal.decodeMedia(9L, fillTail).format == "raw")
    // fill bytes BEFORE an intact SOF still decode (the skip's purpose)
    val withFill = Multimodal.encodeJpeg(41, 29, 0)
    val padded = withFill.take(2) ++ Array.fill(3)(0xff.toByte) ++
      withFill.drop(3) // inject extra 0xFFs before the first marker code
    assert(Multimodal.decodeMedia(9L, padded).width == 41)
  }

  test("GIF encode -> decode round-trips the logical screen descriptor") {
    for ((w, h) <- Seq((1, 1), (31, 17), (640, 350))) {
      val f = Multimodal.decodeMedia(9L, Multimodal.encodeGif(w, h))
      assert(f.format == "gif" && f.width == w && f.height == h)
      assert(f.n_bytes == 14)
    }
    // GIF magic with a bad version byte is raw
    val bad = Multimodal.encodeGif(5, 5); bad(4) = '8'
    assert(Multimodal.decodeMedia(9L, bad).format == "raw")
  }
}

class PipeSpec extends SparkTestBase {
  import spark.implicits._

  test("mapLines transforms per partition, preserving distribution") {
    val ds = spark.createDataset(1 to 100)(org.apache.spark.sql.Encoders.scalaInt)
      .repartition(4).map(_.toString)
    val out = Pipe.mapLines(ds, _.map(l => s"x$l")).collect().toSet
    assert(out == (1 to 100).map("x" + _).toSet)
  }

  test("processPipe streams through an external command (cat)") {
    assume(new java.io.File("/bin/cat").exists)
    val ds = Seq("alpha", "beta", "gamma").toDS().repartition(2)
    val out = Pipe.processPipe(ds, Seq("/bin/cat")).collect().toSet
    assert(out == Set("alpha", "beta", "gamma"))
  }
}

class SinksSpec extends SparkTestBase {
  import spark.implicits._

  test("partitioned write → partition pruning on read") {
    withTempDir("graft_sink") { d =>
      val dir = d.getPath
      val df = (1 to 100).map(i => (i % 5, i)).toDF("bucket", "v")
      graft.sources.Sinks.writePartitioned(df, Seq("bucket"), dir)
      val back = spark.read.parquet(dir).where($"bucket" === 3)
      // pruning: only one partition directory is scanned
      val plan = back.queryExecution.executedPlan.toString
      assert(back.count() == 20)
      assert(plan.contains("PartitionFilters") || plan.contains("bucket=3")
             || back.inputFiles.forall(_.contains("bucket=3")))
    }
  }

  test("blob files: executor-side export → binaryFile ingest, byte-exact") {
    withTempDir("graft_blobs") { d =>
      val dir = d.getPath + "/blobs"
      val rows = Seq(("a.bin", "alpha"), ("b.bin", "βeta"), ("empty.bin", ""))
      val df = rows.toDF("fname", "s")
        .select($"fname", encode($"s", "UTF-8").as("payload"))
      graft.sources.Sinks.writeBlobFiles(df, "fname", "payload", dir)
      val back = graft.sources.Sinks.readBlobFiles(spark, dir)
        .select(element_at(split($"path", "/"), -1).as("fname"),
          $"length", $"content")
        .as[(String, Long, Array[Byte])].collect()
        .map(r => r._1 -> (r._2, new String(r._3, "UTF-8"))).toMap
      // zero-byte files are DROPPED by split planning (documented
      // source gotcha) — the empty blob's file exists but yields no row
      assert(new java.io.File(dir, "empty.bin").exists())
      assert(back.keySet == Set("a.bin", "b.bin"))
      rows.filter(_._2.nonEmpty).foreach { case (f, s) =>
        assert(back(f)._2 == s)
        assert(back(f)._1 == s.getBytes("UTF-8").length.toLong)
      }
      // second write with fewer rows replaces the directory's contents
      graft.sources.Sinks.writeBlobFiles(df.limit(1), "fname", "payload", dir)
      assert(graft.sources.Sinks.readBlobFiles(spark, dir).count() == 1)
    }
  }

  test("readEvolved merges schemas; plain read would drop the new column") {
    withTempDir("graft_evolve") { d =>
      val v1 = d.getPath + "/v1"; val v2 = d.getPath + "/v2"
      Seq((1L, "x")).toDF("id", "a").write.parquet(v1)
      Seq((2L, "y", "new")).toDF("id", "a", "b").write.parquet(v2)
      val merged = graft.sources.Sinks.readEvolved(spark, v1, v2)
      assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"))
      val m = merged.select($"id", $"b").as[(Long, Option[String])]
        .collect().toMap
      assert(m(1L).isEmpty && m(2L).contains("new"))
    }
  }

  test("writeCounted: metrics ride the write pass, round-trip agrees") {
    withTempDir("graft_counted") { d =>
      val dir = d.getPath + "/out"
      val df = (1L to 250L).map(i => (i, i * 2)).toDF("id", "v")
      val (n, s) = graft.sources.Sinks.writeCounted(df, dir,
        sumCol = Some("v"))
      assert(n == 250L)
      assert(s == (1L to 250L).map(_ * 2).sum)
      // the written data really is what the metrics describe
      assert(spark.read.parquet(dir).count() == 250L)
    }
  }

  test("writeCounted: empty frame reports zero, writes valid output") {
    withTempDir("graft_counted0") { d =>
      val dir = d.getPath + "/out"
      val df = Seq.empty[(Long, Long)].toDF("id", "v")
      val (n, s) = graft.sources.Sinks.writeCounted(df, dir,
        sumCol = Some("v"))
      assert(n == 0L && s == 0L)
      assert(spark.read.parquet(dir).count() == 0L)
    }
  }

  test("single sorted file write") {
    withTempDir("graft_single") { d =>
      val dir = d.getPath
      val df = Seq((3, "c"), (1, "a"), (2, "b")).toDF("k", "s")
      graft.sources.Sinks.writeSingleSorted(df, Seq("k"), dir)
      val files = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1)
      val back = spark.read.parquet(dir).as[(Int, String)].collect()
      assert(back.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
    }
  }

  test("bucketed tables join without any exchange") {
    val conf = spark.conf
    val prevThreshold = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = (1 to 1000).map(i => (i % 50, s"l$i")).toDF("k", "lv")
      val r = (1 to 500).map(i => (i % 50, i * 1.5)).toDF("k", "rv")
      graft.sources.Sinks.writeBucketed(l, Seq("k"), 4, "bkt_l")
      graft.sources.Sinks.writeBucketed(r, Seq("k"), 4, "bkt_r")
      val joined = spark.table("bkt_l").join(spark.table("bkt_r"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      assert(joined.count() == 1000L * 500 / 50 / 50 * 50)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_l")
      spark.sql("DROP TABLE IF EXISTS bkt_r")
    }
  }

  test("approx sketches stay within error bounds of exact answers") {
    val df = (1 to 20000).map(i => (i % 3, (i * 7919) % 1000))
      .toDF("g", "v")
    val exact = df.groupBy($"g")
      .agg(countDistinct($"v").as("d"), expr("percentile(v, 0.5)").as("m"))
      .as[(Int, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val approx = df.groupBy($"g")
      .agg(approx_count_distinct($"v").as("d"),
           percentile_approx($"v", lit(0.5), lit(10000)).as("m"))
      .as[(Int, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    exact.foreach { case (g, (d, m)) =>
      assert(math.abs(approx(g)._1 - d).toDouble / d < 0.05)
      assert(math.abs(approx(g)._2 - m) / math.max(m, 1) < 0.05)
    }
  }

  test("lenient csv: malformed rows counted, not fatal") {
    withTempDir("graft_csv") { dir =>
      val f = dir.toPath.resolve("data.tsv")
      java.nio.file.Files.writeString(f,
        "1\talpha\n2\tbeta\nnot_an_int\tgamma\n3\tdelta\n")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType)))
      val df = graft.sources.Sinks.readLenientCsv(spark, schema, f.toString)
      val (good, bad) = graft.sources.Sinks.splitCorrupt(df)
      assert(good.count() == 3)
      assert(bad.count() == 1)
    }
  }

  test("z-order layout bounds every file's range in BOTH dimensions") {
    import spark.implicits._
    withTempDir("graft_zorder") { dir =>
      val rnd = new scala.util.Random(11)
      val rows = Seq.fill(1 << 14)((rnd.nextInt(1024), rnd.nextInt(1024)))
      val df = rows.toDF("x", "y")
      val zpath = dir.getAbsolutePath + "/z"
      // range-partition + sort by the interleaved key: each file's row
      // order (and footer min/max) keeps the clustering
      df.withColumn("_z",
          graft.sources.Layout.zValue2($"x", $"y", bits = 10))
        .repartitionByRange(16, $"_z").sortWithinPartitions($"_z")
        .drop("_z").write.parquet(zpath)
      def spans(path: String): (Double, Double) = {
        val byFile = spark.read.parquet(path)
          .groupBy(input_file_name().as("f"))
          .agg(min($"x").as("x0"), max($"x").as("x1"),
               min($"y").as("y0"), max($"y").as("y1"))
          .select($"x1" - $"x0", $"y1" - $"y0")
          .as[(Int, Int)].collect()
        (byFile.map(_._1).sum.toDouble / byFile.length,
         byFile.map(_._2).sum.toDouble / byFile.length)
      }
      val (zx, zy) = spans(zpath)
      // 16 files over a 1024² space ⇒ ~1/√16 = 1/4 of EACH axis per
      // file (2× slack for unaligned range boundaries)
      assert(zx <= 512, s"x span $zx")
      assert(zy <= 512, s"y span $zy")
      // contrast: a single-column sort leaves the other axis unpruned
      val spath = dir.getAbsolutePath + "/s"
      df.repartitionByRange(16, $"x").sortWithinPartitions($"x")
        .write.parquet(spath)
      val (_, sy) = spans(spath)
      assert(sy > zy * 2,
        s"z-order must beat single-column sort on y: $sy vs $zy")
    }
  }

  test("compact: collapses fragmented files losslessly") {
    import spark.implicits._
    withTempDir("graft_compact") { dir =>
      val frag = dir.getAbsolutePath + "/frag"
      val out = dir.getAbsolutePath + "/out"
      (1L to 500L).toDF("id").repartition(16).write.parquet(frag)
      def parts(p: String) = new java.io.File(p).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(parts(frag) == 16)
      val n = graft.sources.Sinks.compact(spark, frag, out,
        targetFileBytes = 64L << 20)
      assert(n == 1 && parts(out) == 1,
        s"tiny input must compact to one file, got $n / ${parts(out)}")
      assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq ==
        (1L to 500L))
      // a small target produces multiple files, still lossless
      val out2 = dir.getAbsolutePath + "/out2"
      val n2 = graft.sources.Sinks.compact(spark, frag, out2,
        targetFileBytes = 4096)
      assert(n2 > 1 && parts(out2) == n2)
      assert(spark.read.parquet(out2).as[Long].collect().sorted.toSeq ==
        (1L to 500L))
    }
  }

  test("jsonl: sharded write, lossless re-read, corrupt lines survive") {
    import spark.implicits._
    withTempDir("graft_jsonl") { dir =>
      val path = dir.getAbsolutePath + "/out"
      val rows = (1L to 100L).map(i => (i, s"src${i % 3}", i * 7))
      graft.sources.Sinks.writeJsonl(
        rows.toDF("id", "src", "v"), path, shards = 4)
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".json"))
      assert(files.length == 4, s"expected 4 shards, got ${files.length}")
      // inject a malformed line as an extra shard (appending to an
      // existing one would trip Hadoop's .crc sidecar, not the parser)
      java.nio.file.Files.writeString(
        new java.io.File(path, "part-extra.json").toPath,
        "this is not json\n")
      val schema = rows.toDF("id", "src", "v").schema
      val back = graft.sources.Sinks.readJsonl(spark, schema, path)
      val (good, bad) = graft.sources.Sinks.splitCorrupt(back)
      assert(bad.count() == 1)
      assert(good.as[(Long, String, Long)].collect().sortBy(_._1).toSeq ==
        rows.sortBy(_._1))
      // release splitCorrupt's shared-scan cache — unpersist the
      // specific frame, NOT clearCache(): suites share one session
      // concurrently, and a global clear here races other suites'
      // cache-contract assertions
      back.unpersist(blocking = true)
    }
  }

  test("writeXml shards parameter controls the writer fan-out") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => (i, s"src${i % 3}", i * 7))
    withTempDir("graft_xml") { dir =>
      val path = dir.getAbsolutePath + "/out"
      graft.sources.Sinks.writeXml(
        rows.toDF("id", "src", "v"), path, rowTag = "rec", shards = 4)
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".xml"))
      assert(files.length == 4, s"expected 4 shards, got ${files.length}")
      val back = spark.read.option("rowTag", "rec").format("xml")
        .load(path)
        .select(col("id").cast("long"), col("src"),
          col("v").cast("long"))
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      assert(back == rows, s"round-trip mismatch: $back")
    }
  }
}
