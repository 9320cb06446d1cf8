package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType,
  TimestampNTZType, TimestampType}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The table schema cache behind [[GraftSession.rawTable]] and
  * [[GraftSession.tableSchema]]: a repeated read resolves without the
  * schema-inference job, while a rewritten table, or a session with
  * different parquet settings, re-infers. Every table lives in a fresh
  * temp dir, so no entry cached by another suite can answer for it.
  */
class TableSchemaCacheSpec extends SparkTestBase {

  private val groups = new AtomicInteger()

  /** Number of Spark jobs `f` launches on this thread. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"schema-cache-${groups.incrementAndGet()}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    // the status tracker is fed by the listener bus, asynchronously but
    // in order: once a marker job started after `f` is visible, every
    // job `f` started is visible too
    val marker = s"$group-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    eventually(timeout(30.seconds), interval(20.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def writeTable(df: DataFrame, dir: File, name: String): String = {
    val path = new File(dir, s"$name.parquet").getPath
    df.write.mode("overwrite").parquet(path)
    path
  }

  test("a repeated read of the same table launches no job") {
    withTempDir("graft_schema_cache") { dir =>
      import spark.implicits._
      val path =
        writeTable(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, "t")
      val d = dir.getPath
      assert(jobsDuring(GraftSession.table(spark, d, "t")) >= 1,
        "the first read must infer the schema with a job")
      var again: DataFrame = null
      assert(jobsDuring { again = GraftSession.table(spark, d, "t") } == 0,
        "a second read of an unchanged table must reuse the schema")
      assert(jobsDuring(GraftSession.tableSchema(spark, d, "t")) == 0)
      assert(again.schema == spark.read.parquet(path).schema)
      assert(again.orderBy("k").collect().toSeq ==
        Seq(Row(1, "a"), Row(2, "b")))
    }
  }

  test("a table overwritten with a different schema re-infers") {
    withTempDir("graft_schema_cache") { dir =>
      import spark.implicits._
      val d = dir.getPath
      writeTable(Seq((1, "a")).toDF("k", "v"), dir, "t")
      assert(GraftSession.table(spark, d, "t").schema.map(_.dataType) ==
        Seq(IntegerType, StringType))
      writeTable(Seq(("x", "y", 3)).toDF("s", "u", "n"), dir, "t")
      val after = GraftSession.table(spark, d, "t")
      assert(after.columns.toSeq == Seq("s", "u", "n"))
      assert(after.collect().toSeq == Seq(Row("x", "y", 3)))
    }
  }

  test("a single-file table rewritten in place re-infers") {
    withTempDir("graft_schema_cache") { dir =>
      import spark.implicits._
      val d = dir.getPath
      def partFile(df: DataFrame, name: String): File = {
        val out = new File(dir, name)
        df.coalesce(1).write.parquet(out.getPath)
        out.listFiles().find(_.getName.endsWith(".parquet")).get
      }
      val v1 = partFile(Seq((1L, 2L)).toDF("a", "b"), "v1")
      val v2 = partFile(Seq("z").toDF("c"), "v2")
      val table = new File(dir, "t.parquet")
      java.nio.file.Files.copy(v1.toPath, table.toPath)
      assert(GraftSession.tableSchema(spark, d, "t").fieldNames.toSeq ==
        Seq("a", "b"))
      java.nio.file.Files.copy(v2.toPath, table.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // same name, new bytes: the status changes even on a coarse clock
      table.setLastModified(table.lastModified() + 2000L)
      assert(GraftSession.tableSchema(spark, d, "t").fieldNames.toSeq ==
        Seq("c"))
      assert(GraftSession.table(spark, d, "t").collect().toSeq ==
        Seq(Row("z")))
    }
  }

  test("inferTimestampNTZ settings each get their own entry; ts still " +
      "normalizes to TimestampType") {
    withTempDir("graft_schema_cache") { dir =>
      val d = dir.getPath
      // written without Spark's schema metadata, which would pin the
      // Catalyst type: the timestamp[us]-without-zone encoding a
      // non-Spark producer ships, whose type the setting decides
      val pq = MessageTypeParser.parseMessageType("message events { " +
        "required int64 user_id; " +
        "required int64 ts (TIMESTAMP(MICROS,false)); }")
      val w = ExampleParquetWriter
        .builder(new Path(new File(dir, "events.parquet").getPath))
        .withConf(spark.sparkContext.hadoopConfiguration)
        .withType(pq).build()
      val rows = new SimpleGroupFactory(pq)
      try (0L until 3L).foreach(i => w.write(rows.newGroup()
        .append("user_id", i)
        .append("ts", 1704067200000000L + i * 1000000L)))
      finally w.close()
      val s = spark.newSession()
      val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
      def read(ntz: Boolean): (StructType, Seq[Row]) = {
        s.conf.set(key, ntz.toString)
        val norm = GraftSession.table(s, d, "events")
        assert(norm.schema("ts").dataType == TimestampType,
          s"normalizeEventTime must yield TimestampType ($key=$ntz)")
        (GraftSession.tableSchema(s, d, "events"),
          norm.orderBy("user_id").collect().toSeq)
      }
      val (ntzSchema, ntzRows) = read(ntz = true)
      val (ltzSchema, ltzRows) = read(ntz = false)
      assert(ntzSchema("ts").dataType == TimestampNTZType)
      assert(ltzSchema("ts").dataType == TimestampType)
      // and back: the first setting's entry still answers for it
      assert(read(ntz = true)._1("ts").dataType == TimestampNTZType)
      assert(ntzRows == ltzRows)
      assert(ntzRows.map(_.getTimestamp(1).toInstant.getEpochSecond) ==
        Seq(1704067200L, 1704067201L, 1704067202L))
    }
  }

  test("a noEvictionDrainSession clone hits its parent's entry") {
    withTempDir("graft_schema_cache") { dir =>
      import spark.implicits._
      val d = dir.getPath
      writeTable(Seq((1, 10L)).toDF("k", "n"), dir, "t")
      GraftSession.rawTable(spark, d, "t")
      val sd = streaming.Streams.noEvictionDrainSession(spark)
      var schema: StructType = null
      assert(jobsDuring {
        schema = GraftSession.tableSchema(sd, d, "t")
      } == 0)
      assert(schema == GraftSession.tableSchema(spark, d, "t"))
      assert(jobsDuring(GraftSession.rawTable(sd, d, "t")) == 0)
    }
  }

  test("two reads of one table self-join like two plain parquet reads") {
    withTempDir("graft_schema_cache") { dir =>
      import spark.implicits._
      val d = dir.getPath
      val path = writeTable(Seq((1L, 0L, "root"), (2L, 1L, "kid"),
          (3L, 1L, "kid2"), (4L, 3L, "leaf")).toDF("id", "parent", "v"),
        dir, "tree")
      def joined(a: DataFrame, b: DataFrame): Set[Row] =
        a.join(b, a.col("parent") === b.col("id"))
          .select(a.col("id"), a.col("v"), b.col("v").as("parent_v"))
          .collect().toSet
      val a = GraftSession.table(spark, d, "tree")
      val b = GraftSession.table(spark, d, "tree")
      val ids = (df: DataFrame) =>
        df.queryExecution.analyzed.output.map(_.exprId).toSet
      assert(ids(a).intersect(ids(b)).isEmpty,
        "each read must carry its own attribute ids")
      val got = joined(a, b)
      assert(got == joined(spark.read.parquet(path),
        spark.read.parquet(path)))
      assert(got == Set(Row(2L, "kid", "root"), Row(3L, "kid2", "root"),
        Row(4L, "leaf", "kid2")))
    }
  }
}
