package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long): Timestamp = new Timestamp(s * 1000L)

  test("tumblingAgg: watermarked 10s windows aggregate counts and sums") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val out = Streams.tumblingAgg(in.toDF().toDF("ts", "v"), "ts", "v",
      "10 seconds", "0 seconds")
    val q = out.writeStream.format("memory").queryName("tumble")
      .outputMode("complete").start()
    try {
      in.addData((ts(1), 1.0), (ts(5), 2.0), (ts(11), 4.0))
      q.processAllAvailable()
      val rows = spark.table("tumble")
        .select($"w_start".cast("long"), $"n_events", $"sum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows == Set((0L, 2L, 3.0), (10L, 1L, 4.0)))
    } finally q.stop()
  }

  test("sessionAgg: gap-based session windows per key") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = Streams.sessionAgg(in.toDF().toDF("user_id", "ts"),
      Seq("user_id"), "ts", "30 seconds", "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      in.addData((1L, ts(0)), (1L, ts(10)), (1L, ts(100)), (2L, ts(5)))
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select($"user_id", $"sess_start".cast("long"), $"n_rows")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((1L, 0L, 2L), (1L, 100L, 1L), (2L, 5L, 1L)))
    } finally q.stop()
  }

  /** A watermark delay longer than every test's event-time span: the
    * watermark stays at 0, so no event is dropped as late and no
    * event-time timeout fires — sessions close only on a gap break.
    */
  private val noTimeout = "365 days"

  test("stateful sessionize: cross-batch state, emits on gap break") {
    implicit val sq = spark.sqlContext
    import StatefulSessions._
    val in = MemoryStream[TsEvent]
    val out = StatefulSessions.sessionizeWithTimeout(in.toDS(),
      gapSeconds = 30L, watermarkDelay = noTimeout)
    val q = out.writeStream.format("memory").queryName("statesess")
      .outputMode("append").start()
    try {
      in.addData(TsEvent(1L, ts(10)), TsEvent(1L, ts(20)),
        TsEvent(2L, ts(7)))
      q.processAllAvailable()
      assert(spark.table("statesess").count() == 0) // sessions still open
      in.addData(TsEvent(1L, ts(2000))) // closes (10,20) across batches
      q.processAllAvailable()
      val rows = spark.table("statesess")
        .as[Session].collect().toSet
      assert(rows == Set(Session(1L, 10L, 20L, 2L)))
    } finally q.stop()
  }

  test("stateful sessionize: too-late events become own sessions, not merged") {
    implicit val sq = spark.sqlContext
    import StatefulSessions._
    val in = MemoryStream[TsEvent]
    val out = StatefulSessions.sessionizeWithTimeout(in.toDS(),
      gapSeconds = 30L, watermarkDelay = noTimeout)
    val q = out.writeStream.format("memory").queryName("latesess")
      .outputMode("append").start()
    try {
      in.addData(TsEvent(1L, ts(10000)))
      q.processAllAvailable()
      // far before open start
      in.addData(TsEvent(1L, ts(100)), TsEvent(1L, ts(110)))
      q.processAllAvailable()
      val rows = spark.table("latesess").as[Session].collect().toSet
      // stragglers gap-merge together and emit immediately; the open
      // session (start 10000) must NOT absorb them
      assert(rows == Set(Session(1L, 100L, 110L, 2L)))
      // closes the open session untouched
      in.addData(TsEvent(1L, ts(99999)))
      q.processAllAvailable()
      val rows2 = spark.table("latesess").as[Session].collect().toSet
      assert(rows2.contains(Session(1L, 10000L, 10000L, 1L)))
    } finally q.stop()
  }

  test("event-time timeout closes a session when the watermark passes") {
    implicit val sq = spark.sqlContext
    import StatefulSessions._
    val in = MemoryStream[TsEvent]
    val out = StatefulSessions.sessionizeWithTimeout(in.toDS(),
      gapSeconds = 30L, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("tosess")
      .outputMode("append").start()
    try {
      in.addData(TsEvent(1L, ts(100)), TsEvent(1L, ts(110)))
      q.processAllAvailable()
      // advance the watermark far past 110 + 30 via another key
      in.addData(TsEvent(2L, ts(10000)))
      q.processAllAvailable()
      // one more batch so the timeout fires after the watermark advanced
      in.addData(TsEvent(2L, ts(10001)))
      q.processAllAvailable()
      val rows = spark.table("tosess").as[Session].collect().toSet
      // key 1's session closed by TIMEOUT, no further key-1 events needed
      assert(rows.contains(Session(1L, 100L, 110L, 2L)), rows.toString)
    } finally q.stop()
  }

  test("enrich attaches dimension columns, keeps unmatched stream rows") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (3L, "silver")).toDF("user_id", "tier")
    val out = Streams.enrich(in.toDF().toDF("user_id", "v"), dim,
      Seq("user_id"))
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      in.addData((1L, 1.0), (2L, 2.0), (3L, 3.0))
      q.processAllAvailable()
      val got = spark.table("enriched")
        .select($"user_id", $"tier").as[(Long, Option[String])]
        .collect().toSet
      // LEFT enrichment: user 2 keeps flowing with a NULL tier
      assert(got == Set((1L, Some("gold")), (2L, None),
        (3L, Some("silver"))))
    } finally q.stop()
  }

  test("intervalJoin pairs rows in-band per key across two streams") {
    implicit val sq = spark.sqlContext
    val la = MemoryStream[(Long, Long, Timestamp)]
    val rb = MemoryStream[(Long, Long, Timestamp)]
    val out = Streams.intervalJoin(
      la.toDF().toDF("user_id", "a_id", "a_ts"),
      rb.toDF().toDF("user_id", "b_id", "b_ts"),
      Seq("user_id"), "a_ts", "b_ts", "10 seconds", "5 seconds")
    val q = out.writeStream.format("memory").queryName("sjoin")
      .outputMode("append").start()
    try {
      // base 100 s, not 0: rows AT the initial zero watermark are
      // "late" by Spark's strictly-greater rule and silently dropped
      la.addData((1L, 100L, ts(100)), (2L, 200L, ts(100)))
      rb.addData(
        (1L, 101L, ts(105)),  // in band for user 1
        (1L, 102L, ts(111)),  // past the 10 s band → no pair
        (2L, 201L, ts(110)),  // boundary: b_ts == a_ts + band → pair
        (3L, 301L, ts(102)))  // no left-side key 3 → no pair
      q.processAllAvailable()
      val got = spark.table("sjoin").select($"user_id", $"a_id", $"b_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 100L, 101L), (2L, 200L, 201L)))
      // key columns are emitted once
      assert(spark.table("sjoin").columns.count(_ == "user_id") == 1)
    } finally q.stop()
  }

  test("file sink: checkpointed drain is exactly-once across restarts") {
    withTempDir("graft_fsink") { dir =>
      val in = dir.getAbsolutePath + "/in"
      val out = dir.getAbsolutePath + "/out"
      val ckpt = dir.getAbsolutePath + "/ckpt"
      (1L to 100L).toDF("v").coalesce(1).write.parquet(in)
      val schema = spark.read.parquet(in).schema
      def drain(): Unit = {
        val stream = Streams.fileSource(spark, in, schema)
          .where($"v" % 2 === 0)
        Streams.awaitDrain(Streams.drainToFiles(stream, out, ckpt).start())
      }
      drain()
      val first = spark.read.parquet(out).as[Long].collect().sorted.toSeq
      assert(first == (2L to 100L by 2))
      // restart with the same checkpoint: input already committed, so
      // the second drain must emit NOTHING new — that is exactly-once
      drain()
      val second = spark.read.parquet(out).as[Long].collect().sorted.toSeq
      assert(second == first, "restart re-emitted committed data")
    }
  }

  test("memory and file drains log no job-group cancel WARN") {
    // stop() on a drain that has already ended cancels its finished
    // job group twice, and the DAGScheduler logs a WARN on its own
    // event-loop thread for each — hence the all-threads capture
    withTempDir("graft_drainwarn") { dir =>
      val in = dir.getAbsolutePath + "/in"
      (1L to 100L).toDF("v").coalesce(1).write.parquet(in)
      val stream = Streams.fileSource(spark, in,
          spark.read.parquet(in).schema)
        .where($"v" % 2 === 0)
      val warns = warnsDuring({
        val mem = Streams.drainToMemory(stream, "drain_warn_mem", "append")
        assert(mem.count() == 50L)
        Streams.awaitDrain(Streams.drainToFiles(stream,
          dir.getAbsolutePath + "/out", dir.getAbsolutePath + "/ckpt")
          .start())
        assert(spark.read.parquet(dir.getAbsolutePath + "/out").count()
          == 50L)
      }, allThreads = true)
      val cancels = warns.filter(_.contains("Failed to cancel job group"))
      assert(cancels.isEmpty, s"drains logged: $cancels")
    }
  }

  test("streaming sessions run on the RocksDB state store provider") {
    // the engine default for streaming state is RocksDB (off-heap,
    // incremental checkpoints) — 128 in-heap HDFSBackedStateStores is
    // the wrong provider for a production stream-stream join (q78's
    // profile: 4 stores × shuffle partitions). Assert the session
    // carries the provider, then prove a stateful query actually runs
    // on it (a missing rocksdbjni would fail here, not in production).
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = Streams.streamDedup(in.toDF().toDF("k", "payload"), Seq("k"))
    val q = out.writeStream.format("memory").queryName("rocksdedup")
      .outputMode("append").start()
    try {
      in.addData((1L, "a"), (1L, "dup"), (2L, "b"))
      q.processAllAvailable()
      in.addData((2L, "dup"), (3L, "c")) // cross-batch state hit
      q.processAllAvailable()
      val got = spark.table("rocksdedup").select($"k", $"payload")
        .as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("readyFilter keeps only marker-listed ids (stream-static semi-join)") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val markers = Seq(1L, 3L).toDF("chunk_id")
    val out = Streams.readyFilter(in.toDF().toDF("chunk_id", "payload"),
      markers, "chunk_id")
    val q = out.writeStream.format("memory").queryName("ready")
      .outputMode("append").start()
    try {
      in.addData((1L, "a"), (2L, "b"), (3L, "c"))
      q.processAllAvailable()
      val got = spark.table("ready").select($"chunk_id").as[Long]
        .collect().toSet
      assert(got == Set(1L, 3L))
    } finally q.stop()
  }
}
