package graft.streaming

import graft.{LocalFs, SparkTestBase}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types._
import java.io.File
import java.sql.Timestamp

/** Fault injection for the STREAMING state stores: RecoverySpec proves
  * the iterative batch operators (Components, pageRank) recover their
  * pinned rounds; this spec proves the same kill-and-recover discipline
  * for the `flatMapGroupsWithState` operators. A micro-batch is killed
  * MID-DRAIN by an injected task failure (local[n] has task retries
  * disabled, so one poisoned row fails the batch and terminates the
  * query with the state store at the last COMMITTED version); the query
  * is then restarted from the same checkpoint directory and must
  *  - replay the killed batch from the offset log,
  *  - resume state from the committed version (no double-application),
  *  - and leave the file sink EXACTLY-ONCE (the failed attempt's orphan
  *    part files are excluded by the sink's _spark_metadata log).
  * The poison is gated on a flag file deleted before restart, so the
  * replayed batch runs the identical plan over the identical rows.
  *
  * Runs against the session's real state-store provider (RocksDB — the
  * one a production stream ships with), not a test double.
  */
class StreamingRecoverySpec extends SparkTestBase {
  import spark.implicits._

  /** Write `df` as ONE parquet file `name` directly under `dir` with a
    * controlled mtime — FileStreamSource batches files oldest-first, so
    * distinct mtimes make the micro-batch split deterministic.
    */
  private def writeInputFile(dir: File, name: String, df: DataFrame,
                             mtime: Long): Unit = {
    val staging = new File(dir, s".staging_$name")
    df.coalesce(1).write.mode("overwrite").parquet(staging.getAbsolutePath)
    val part = staging.listFiles()
      .find(f => f.getName.startsWith("part-") &&
                 f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file in $staging"))
    val dest = new File(dir, name)
    java.nio.file.Files.move(part.toPath, dest.toPath)
    assert(dest.setLastModified(mtime))
    LocalFs.deleteRecursively(staging)
  }

  /** Identity map that fails the task on the poison row while `flag`
    * exists — the injected mid-drain kill. Lives in the spec, not the
    * product: any stage failure fails the batch identically.
    */
  private def poisoned[T](ds: Dataset[T], isPoison: T => Boolean,
                          flag: File)(implicit e:
      org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val flagPath = flag.getAbsolutePath
    ds.map { r =>
      if (isPoison(r) && new File(flagPath).exists())
        throw new RuntimeException("injected mid-drain failure")
      r
    }
  }

  test("sessionize recovers mid-drain kill: state resumes, sink exactly-once") {
    withTempDir("graft_stream_recovery_sess") { root =>
      val in = new File(root, "in"); in.mkdirs()
      val sink = new File(root, "sink").getAbsolutePath
      val chk = new File(root, "chk").getAbsolutePath
      val flag = new File(root, "poison.flag")
      flag.createNewFile()

      import StatefulSessions.TsEvent
      // event times offset from epoch 0 (a ts EQUAL to the initial 0-ms
      // watermark is filtered as late); a watermark delay longer than
      // the span keeps the watermark at 0, so no event-time timeout
      // fires and sessions close only on a gap break.
      def ts(s: Long) = new Timestamp((1000L + s) * 1000L)
      // gap=10; in-order across files so the result is batch-split-
      // independent. key 1 closes [0,5] then [30,35]; key 2 closes
      // [0,0]; the final open sessions (60; 100; poison 999) stay open
      // and are never emitted — same as a clean run.
      writeInputFile(in, "e0.parquet",
        Seq(TsEvent(1L, ts(0)), TsEvent(1L, ts(5)), TsEvent(2L, ts(0)))
          .toDF(), 1000000L)
      writeInputFile(in, "e1.parquet",
        Seq(TsEvent(1L, ts(30)), TsEvent(999L, ts(31)), TsEvent(1L, ts(35)))
          .toDF(), 2000000L)
      writeInputFile(in, "e2.parquet",
        Seq(TsEvent(1L, ts(60)), TsEvent(2L, ts(100))).toDF(), 3000000L)

      val schema = StructType(Seq(StructField("key", LongType),
        StructField("ts", TimestampType)))
      def startQuery(trigger: Option[Trigger]) = {
        val src = Streams.fileSource(spark, in.getAbsolutePath, schema,
          maxFilesPerTrigger = 1).as[TsEvent]
        val sess = StatefulSessions.sessionizeWithTimeout(
          poisoned[TsEvent](src, _.key == 999L, flag),
          gapSeconds = 10L, watermarkDelay = "365 days")
        val w = sess.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", chk)
          .outputMode("append")
        trigger.foreach(w.trigger)
        w.start()
      }

      // run 1: batch 0 (e0) commits; batch 1 (e1) hits the poison row
      // and kills the query mid-drain
      val q1 = startQuery(None)
      intercept[StreamingQueryException] { q1.awaitTermination() }
      assert(!q1.isActive)

      // run 2: poison removed; restart from the same checkpoint must
      // replay batch 1 and drain the rest
      assert(flag.delete())
      val q2 = startQuery(Some(Trigger.AvailableNow()))
      q2.awaitTermination()

      val got = spark.read.parquet(sink)
        .select(col("key"), col("sess_start"), col("sess_end"),
          col("n_rows"))
        .as[(Long, Long, Long, Long)].collect().toSeq
      // exactly-once: no duplicates from the replayed batch
      assert(got.size == got.distinct.size,
        s"duplicate sessions after recovery: $got")
      assert(got.toSet == Set((1L, 1000L, 1005L, 2L), (1L, 1030L, 1035L, 2L),
        (2L, 1000L, 1000L, 1L)))
    }
  }

  test("sessionizeWithTimeout recovery equals a clean run (watermark restored)") {
    withTempDir("graft_stream_recovery_wm") { root =>
      val in = new File(root, "in"); in.mkdirs()
      val flag = new File(root, "poison.flag")
      flag.createNewFile()

      import StatefulSessions.TsEvent
      // event times offset from epoch 0: a ts EQUAL to the initial
      // 0-ms watermark is filtered as late, which is a degenerate
      // test artifact, not the semantics under test
      def ts(s: Long) = new Timestamp((1000L + s) * 1000L)
      // gap 10 s, watermark delay 0: [0,5] closes when 30 arrives;
      // [30,30] closes by EVENT-TIME TIMEOUT once the watermark passes
      // 40 — the path whose recovery depends on the watermark being
      // restored from the commit log, not recomputed from scratch.
      writeInputFile(in, "w0.parquet",
        Seq(TsEvent(1L, ts(0)), TsEvent(1L, ts(5))).toDF(), 1000000L)
      writeInputFile(in, "w1.parquet",
        Seq(TsEvent(1L, ts(30)), TsEvent(999L, ts(31))).toDF(), 2000000L)
      writeInputFile(in, "w2.parquet",
        Seq(TsEvent(2L, ts(100))).toDF(), 3000000L)

      val schema = StructType(Seq(StructField("key", LongType),
        StructField("ts", TimestampType)))
      def startQuery(sinkName: String, trigger: Option[Trigger]) = {
        val src = Streams.fileSource(spark, in.getAbsolutePath, schema,
          maxFilesPerTrigger = 1).as[TsEvent]
        val sess = StatefulSessions.sessionizeWithTimeout(
          poisoned[TsEvent](src, _.key == 999L, flag),
          gapSeconds = 10L, watermarkDelay = "0 seconds")
        val w = sess.writeStream.format("parquet")
          .option("path", new File(root, sinkName).getAbsolutePath)
          .option("checkpointLocation",
            new File(root, s"chk_$sinkName").getAbsolutePath)
          .outputMode("append")
        trigger.foreach(w.trigger)
        w.start()
      }

      val q1 = startQuery("sink", None)
      intercept[StreamingQueryException] { q1.awaitTermination() }
      assert(flag.delete())
      val q2 = startQuery("sink", Some(Trigger.AvailableNow()))
      q2.awaitTermination()

      // clean reference run over the same files, fresh checkpoint —
      // recovery must be observationally identical to never crashing
      val q3 = startQuery("sink_clean", Some(Trigger.AvailableNow()))
      q3.awaitTermination()

      def readSink(name: String) = spark.read
        .parquet(new File(root, name).getAbsolutePath)
        .select(col("key"), col("sess_start"), col("sess_end"),
          col("n_rows"))
        .as[(Long, Long, Long, Long)].collect().toSet
      val recovered = readSink("sink")
      assert(recovered == readSink("sink_clean"),
        "crash-recovered output must equal the clean run's")
      // the event-path close and the timeout-path close are both present
      assert(recovered.contains((1L, 1000L, 1005L, 2L)))
      assert(recovered.contains((1L, 1030L, 1030L, 1L)),
        "the timeout-closed session must fire after recovery")
    }
  }

  test("stream-stream interval join recovers: restored state produces the cross-batch match") {
    withTempDir("graft_stream_recovery_join") { root =>
      val inL = new File(root, "inL"); inL.mkdirs()
      val inR = new File(root, "inR"); inR.mkdirs()
      val flag = new File(root, "poison.flag")
      flag.createNewFile()

      def ts(s: Long) = new Timestamp((1000L + s) * 1000L)
      import StreamingRecoverySpec.{LEvent, REvent}
      // band 20 s. Batch 0 (l0+r0): in-batch match (c1@0, p1@10);
      // c2@5 enters LEFT STATE unmatched. Batch 1 (l1+r1): the poison
      // row kills the batch mid-drain; after recovery the replay must
      // produce BOTH the in-batch match (c3@40, p3@45) and the
      // cross-batch match (c2@5, p4@15) — the latter can only come
      // from the join state restored from the committed version.
      writeInputFile(inL, "l0.parquet",
        Seq(LEvent(1L, ts(0), "c1"), LEvent(2L, ts(5), "c2")).toDF(),
        1000000L)
      writeInputFile(inL, "l1.parquet",
        Seq(LEvent(1L, ts(40), "c3"), LEvent(999L, ts(41), "poison"))
          .toDF(), 2000000L)
      writeInputFile(inR, "r0.parquet",
        Seq(REvent(1L, ts(10), "p1"), REvent(2L, ts(100), "p2")).toDF(),
        1000000L)
      writeInputFile(inR, "r1.parquet",
        Seq(REvent(1L, ts(45), "p3"), REvent(2L, ts(15), "p4")).toDF(),
        2000000L)

      val lSchema = StructType(Seq(StructField("user_id", LongType),
        StructField("lts", TimestampType), StructField("ltag", StringType)))
      val rSchema = StructType(Seq(StructField("user_id", LongType),
        StructField("rts", TimestampType), StructField("rtag", StringType)))
      def startQuery(sinkName: String, trigger: Option[Trigger]) = {
        val l = poisoned[LEvent](
          Streams.fileSource(spark, inL.getAbsolutePath, lSchema,
            maxFilesPerTrigger = 1).as[LEvent],
          _.ltag == "poison", flag).toDF()
        val r = Streams.fileSource(spark, inR.getAbsolutePath, rSchema,
          maxFilesPerTrigger = 1)
        val joined = Streams.intervalJoin(l, r, Seq("user_id"),
          "lts", "rts", "20 seconds", "0 seconds")
          .select(col("user_id"), col("ltag"), col("rtag"))
        val w = joined.writeStream.format("parquet")
          .option("path", new File(root, sinkName).getAbsolutePath)
          .option("checkpointLocation",
            new File(root, s"chk_$sinkName").getAbsolutePath)
          .outputMode("append")
        trigger.foreach(w.trigger)
        w.start()
      }

      val q1 = startQuery("sink", None)
      intercept[StreamingQueryException] { q1.awaitTermination() }
      assert(flag.delete())
      val q2 = startQuery("sink", Some(Trigger.AvailableNow()))
      q2.awaitTermination()
      val q3 = startQuery("sink_clean", Some(Trigger.AvailableNow()))
      q3.awaitTermination()

      def readSink(name: String) = spark.read
        .parquet(new File(root, name).getAbsolutePath)
        .as[(Long, String, String)].collect().toSeq
      val recovered = readSink("sink")
      assert(recovered.size == recovered.distinct.size,
        s"duplicate join rows after recovery: $recovered")
      assert(recovered.toSet == Set((1L, "c1", "p1"), (1L, "c3", "p3"),
        (2L, "c2", "p4")),
        s"got: $recovered")
      assert(recovered.toSet == readSink("sink_clean").toSet,
        "crash-recovered join output must equal the clean run's")
    }
  }

  test("trackUnordered recovers mid-drain kill: revisions resume exactly-once") {
    withTempDir("graft_stream_recovery_funnel") { root =>
      val in = new File(root, "in"); in.mkdirs()
      val sink = new File(root, "sink").getAbsolutePath
      val chk = new File(root, "chk").getAbsolutePath
      val flag = new File(root, "poison.flag")
      flag.createNewFile()

      import StatefulFunnel.{FunnelRev, StepEvent}
      def ts(s: Long) = new Timestamp(s * 1000L)
      // 3-step funnel, window 100 s, events OUT OF ORDER across files
      // (the operator's contract): key 1 advances one step per batch;
      // key 2's step-2 candidate arrives two batches before its anchor.
      // Poison row is a step-2 candidate for key 999 — after recovery
      // it contributes state but no revision (no anchor), so the final
      // output is exactly the clean run's.
      writeInputFile(in, "f0.parquet",
        Seq(StepEvent(1L, ts(10), 0), StepEvent(2L, ts(40), 2)).toDF(),
        1000000L)
      writeInputFile(in, "f1.parquet",
        Seq(StepEvent(1L, ts(20), 1), StepEvent(999L, ts(5), 2)).toDF(),
        2000000L)
      writeInputFile(in, "f2.parquet",
        Seq(StepEvent(1L, ts(30), 2), StepEvent(2L, ts(10), 0),
            StepEvent(2L, ts(20), 1)).toDF(), 3000000L)

      val schema = StructType(Seq(StructField("key", LongType),
        StructField("ts", TimestampType), StructField("step", IntegerType)))
      def startQuery(trigger: Option[Trigger]) = {
        val src = Streams.fileSource(spark, in.getAbsolutePath, schema,
          maxFilesPerTrigger = 1).as[StepEvent]
        val revs = StatefulFunnel.trackUnordered(
          poisoned[StepEvent](src, _.key == 999L, flag),
          nSteps = 3, windowSec = 100L)
        val w = revs.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", chk)
          .outputMode("append")
        trigger.foreach(w.trigger)
        w.start()
      }

      val q1 = startQuery(None)
      intercept[StreamingQueryException] { q1.awaitTermination() }
      assert(flag.delete())
      val q2 = startQuery(Some(Trigger.AvailableNow()))
      q2.awaitTermination()

      val revs = spark.read.parquet(sink).as[FunnelRev].collect().toSeq
      // exactly-once on the revision LOG itself: (key, rev) unique
      assert(revs.map(r => (r.key, r.rev)).distinct.size == revs.size,
        s"duplicate revisions after recovery: $revs")
      // the revision sequence is the clean run's: key 1 advances once
      // per batch; key 2 resolves to 3 in one step when its anchor lands
      assert(revs.toSet == Set(FunnelRev(1L, 1, 1), FunnelRev(1L, 2, 2),
        FunnelRev(1L, 3, 3), FunnelRev(2L, 1, 3)))
      // and the final per-key state matches the batch funnel
      val fin = revs.groupBy(_.key).map { case (k, rs) =>
        k -> rs.maxBy(_.rev).reached }
      assert(fin == Map(1L -> 3, 2L -> 3))
    }
  }
}

object StreamingRecoverySpec {
  // top-level (not method-local) so spark.implicits can derive encoders
  case class LEvent(user_id: Long, lts: java.sql.Timestamp, ltag: String)
  case class REvent(user_id: Long, rts: java.sql.Timestamp, rtag: String)
}
