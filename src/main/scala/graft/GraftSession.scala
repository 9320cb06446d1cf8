package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Session factory + table access for the graft engine.
  *
  * The engine is a library on top of `org.apache.spark.sql`: every operator
  * declares a logical plan (DataFrame/Dataset transformations) and Catalyst
  * picks the physical strategy. Config defaults here are the scale-oriented
  * ones we would ship on a real cluster (AQE on, skew-join handling on);
  * `shufflePartitions` is sized by the caller ([[local]] matches the
  * local core count; thousands on a 1000-executor cluster).
  *
  * TABLE SCHEMA CACHE. A bare `spark.read.parquet(path)` infers the
  * schema with a one-task Spark job that reads a footer — once per input
  * table per query, re-reading a footer every earlier query already
  * read. [[tableSchema]] infers each table's schema once per JVM and
  * [[rawTable]] reads with it (`spark.read.schema(..)`), so a repeated
  * read resolves without a job. An entry is keyed on:
  *  - the qualified table path;
  *  - the table's file status (length and modification time), or the
  *    statuses of its immediate children when the table is a directory —
  *    a file rewritten in place, or a child added or removed, re-infers;
  *  - the session's schema-affecting settings: every
  *    `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` entry of the
  *    runtime conf, plus `spark.sql.caseSensitive` — a session reading
  *    with, say, a different `nanosAsLong` re-infers, while a clone with
  *    the same conf (`Streams.noEvictionDrainSession`) shares the entry.
  * The key holds no session, so the cache keeps nothing session-scoped
  * alive; it is bounded (LRU). There is no knob to turn it off: a hit
  * returns by construction the schema that inference would return for
  * the same bytes under the same settings, and a path whose status
  * cannot be read takes the uncached read (and its error) unchanged.
  */
object GraftSession {

  /** Build a local session for the mains and tests. `cores` defaults to
    * env `SPARK_GRAFT_CPUS`, else the host's available processors, and
    * the shuffle partitions to `cores`.
    */
  def local(cores: Int = defaultCores): SparkSession = local(cores, cores)

  def local(cores: Int, shufflePartitions: Int): SparkSession =
    configure(
      SparkSession.builder().master(s"local[$cores]"),
      shufflePartitions
    ).getOrCreate()

  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Apply engine defaults to any builder (local or cluster). */
  def configure(
      b: SparkSession.Builder,
      shufflePartitions: Int
  ): SparkSession.Builder =
    b.appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // typed Aggregators (ObjectHashAggregate) fall back to SORT-based
      // aggregation after 128 distinct keys per partition by default —
      // that turns a hash aggregate into a full sort. Our object buffers
      // (interval lists) are small; raise the fallback accordingly.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
              "131072")
      .config("spark.sql.session.timeZone", "UTC")
      // the codegen class cache (StaticSQLConf, default 100 entries) is
      // an LRU keyed by generated source: a workload that cycles through
      // hundreds of distinct plans — this library serves 290 — evicts
      // every query's classes before it runs again, so each execution
      // pays full janino recompilation (~0.2-0.4 s even on sub-second
      // queries; measured 41% off a 20-query interleaved block when
      // raised). Size it to the library's working set; entries are
      // source+class (tens of KB), so 4096 is a few hundred MB worst
      // case against the driver heap.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // streaming state lives in RocksDB, not the in-heap
      // HDFSBackedStateStore: a symmetric stream-stream join keeps 4
      // state stores per shuffle partition (q78's profile: 128 stores
      // at 32 partitions), and at production rates in-heap state both
      // competes with execution memory and stalls in GC. RocksDB keeps
      // state off-heap with incremental checkpointing — the provider a
      // 100 TB stream actually ships with (rocksdbjni is bundled with
      // the Spark distribution).
      .config("spark.sql.streaming.stateStore.providerClass",
              "org.apache.spark.sql.execution.streaming.state." +
                "RocksDBStateStoreProvider")
      // RocksDB commits upload a FULL state snapshot per store per
      // micro-batch by default; changelog checkpointing writes the
      // batch's delta instead and snapshots in the background — the
      // recommended production mode at scale (commit cost tracks
      // changed rows, not state size) and a measured win here too:
      // r18 in-session A/B over 8 stateful queries at sf0.1, 3
      // interleaved reps each: median ratio 0.86 (q197 0.74,
      // q55/q172 0.83, q49 0.87, q43 0.89, q78 0.96). Recovery
      // semantics unchanged (changelog replays onto the last
      // snapshot); results unchanged (oracle-checked).
      .config("spark.sql.streaming.stateStore.rocksdb." +
              "changelogCheckpointing.enabled", "true")
      // stream-stream joins keep FOUR state stores per shuffle
      // partition in format v2 (left/right × keyToNumValues/
      // keyWithIndexToValue) — 128 RocksDB instances at 32 partitions,
      // each paying open+commit per micro-batch. Format v3 (Spark 4)
      // backs all four with ONE store per partition via virtual column
      // families: same rows, quarter the per-batch store machinery and
      // a quarter of the instances a 100 TB join keeps open. Measured
      // r18 (in-session A/B, 3 interleaved reps): q78 8.97 → 4.53 s,
      // q205 10.2 → 5.2 s — 0.51× both. Outputs oracle-checked
      // identical (the format changes the checkpoint layout, not the
      // join semantics).
      .config("spark.sql.streaming.join.stateFormatVersion", "3")
      // producers have shipped events.ts as TIMESTAMP(NANOS) in the past,
      // which vanilla Spark refuses to read; with nanosAsLong those files
      // surface as Long nanoseconds and normalizeEventTime converts them
      // with exact integer arithmetic. Harmless for micro-encoded files.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reliable checkpoints (Components' reliable=true rounds) are
      // NOT removed by default — without this, every superseded round
      // leaks a full frame copy in the checkpoint dir for the life of
      // the job. With it, the ContextCleaner deletes a checkpoint's
      // files once its RDD becomes unreachable — the same
      // released-when-superseded lifetime localCheckpoint blocks get.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // the engine's SparkSessionExtensions: native function kernels +
      // the as-of join planner strategy
      .config("spark.sql.extensions",
              "graft.functions.GraftExtensions")
      // per-session artifact isolation (on by default since Spark 4)
      // gives every session its own class loader, and the codegen cache
      // is per class loader: each `newSession()` clone (the streaming
      // drain sessions) recompiled every whole-stage class of its first
      // query — a q199 build on a fresh clone at the 10x twin recompiled
      // 10 classes and ran 3.1 s against 1.7 s on a reused session
      // (local[4]). The engine adds no per-session jars or files, so its
      // sessions share one loader and one codegen cache.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      // the engine's own `file:` filesystem (LocalFs.scala). Without
      // libhadoop, Hadoop's local filesystem starts a `chmod` process
      // for every file and directory it creates and a `readlink`
      // process inside every FileContext rename — the atomic commit of
      // each streaming offset, commit and state-store changelog file:
      // 1,878 processes over one iter_stream benchmark run, and traced
      // `stream.state_commit_ms` 252 ms against 25 ms without them
      // (4 vCPUs). NioLocalFileSystem makes both calls with java.nio,
      // with Hadoop's results. Hadoop caches one `file:` filesystem per
      // JVM: the first `FileSystem.get` for `file:` fixes its class, so
      // one built from a plain Configuration before this session keeps
      // Hadoop's.
      .config(LocalFs.fileSystemConf.toMap)

  /** Read one of the driver-provided parquet tables from an sf directory,
    * with the event-time column normalized (see [[normalizeEventTime]]).
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeEventTime(rawTable(spark, sfDir, name))

  /** Read a table exactly as encoded on disk — no event-time
    * normalization. Streaming sources need this schema (a stream must be
    * given the FILE schema, then normalized post-load with
    * [[normalizeEventTime]], which is a plain projection and so works on
    * streaming frames too).
    */
  def rawTable(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(tableSchema(spark, sfDir, name))
      .parquet(tablePath(sfDir, name))

  /** The on-disk schema of a table, as [[rawTable]] reads it — inferred
    * on the first call for a given file state and conf, then served from
    * the table schema cache (see the object scaladoc).
    */
  def tableSchema(spark: SparkSession, sfDir: String,
                  name: String): StructType = {
    val path = tablePath(sfDir, name)
    def infer(): StructType = spark.read.parquet(path).schema
    SchemaCache.key(spark, path) match {
      case Some(k) => SchemaCache.getOrInfer(k, infer())
      case None => infer()
    }
  }

  private def tablePath(sfDir: String, name: String): String =
    s"$sfDir/$name.parquet"

  /** JVM-wide, bounded LRU map from (path, file state, parquet conf) to
    * the schema inferred for it. Inference runs outside the lock: two
    * concurrent misses on one key both infer and store the same schema.
    */
  private object SchemaCache {
    final case class Key(path: String, files: Seq[(String, Long, Long)],
                         conf: Seq[(String, String)])

    private val MaxEntries = 256
    private val entries =
      new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Key, StructType]): Boolean =
          size() > MaxEntries
      }

    def key(spark: SparkSession, path: String): Option[Key] =
      try {
        val p = new Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val st = fs.getFileStatus(p)
        val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
        def stamp(f: FileStatus) =
          (f.getPath.getName, f.getLen, f.getModificationTime)
        val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.")
        }.sorted :+ ("spark.sql.caseSensitive" ->
          spark.conf.get("spark.sql.caseSensitive", "false"))
        Some(Key(fs.makeQualified(p).toString,
          files.map(stamp).sorted, conf))
      } catch { case _: java.io.IOException => None }

    def getOrInfer(k: Key, infer: => StructType): StructType =
      Option(entries.synchronized(entries.get(k))).getOrElse {
        val s = infer
        entries.synchronized(entries.put(k, s))
        s
      }
  }

  /** Lenient event-time ingest: producers encode the `ts` column
    * differently across dataset versions — Long nanoseconds (legacy
    * TIMESTAMP(NANOS) files read via nanosAsLong), `timestamp[us]`
    * without a zone (Spark reads TIMESTAMP_NTZ), or a zoned timestamp.
    * Normalize all three to TimestampType at the read boundary so every
    * downstream operator sees one type. The session timezone is pinned
    * UTC (see [[configure]]), so the NTZ→LTZ cast is wall-clock identity
    * and integer epoch arithmetic agrees across encodings.
    */
  def normalizeEventTime(df: DataFrame, tsCol: String = "ts"): DataFrame =
    if (!df.columns.contains(tsCol)) df
    else df.schema(tsCol).dataType match {
      case LongType => // legacy nanos: integer DIV keeps exactness at 1e18
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol DIV 1000")))
      case TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }
}
