package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** JVM side of the benchmark. Drives the engine only through its public
  * entry points — `graft.GraftSession.configure`,
  * `graft.SparkEntry.queries(q)(spark, dir)` and the final `write` — as
  * a single closed-loop client: the next query is submitted only when the
  * previous one has returned.
  *
  * Usage: perfbench.Harness key=value ...
  *   data=<dir>        the input tables
  *   queries=<q,q,..>  the workload
  *   seed=<n>          per-pass query order
  *   seconds=<s>       length of the timed phase
  *   trace=<0|1>       interleave traced and untraced passes
  *   out=<dir>         result.json, events.jsonl and outputs/<q>/
  *   launch=<epoch s>  when the caller started this JVM (for setup_s)
  *   cores=<n>         local[n]
  *
  * Set-up is: session, the output pass (every query once, to parquet, for
  * the caller's digest check; in a fresh JVM it is also the first, cold
  * execution of each query), then two untimed noop passes. Everything is
  * written to `out`; stdout carries only Spark's logging.
  */
object Harness {
  private def epochMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** Host calibration at the run's own parallelism: `cores` copies of a
    * fixed integer fold as one Spark stage, best of three after a warm-up
    * leg. The checksum pins the work so the sample never drifts.
    */
  private def fold(n: Long): Long = {
    var h = 1469598103934665603L; var acc = 0L; var i = 0L
    while (i < n) {
      h = (h ^ i) * 1099511628211L
      acc = (acc + h) % 1000000007L
      i += 1
    }
    acc
  }
  private val calN = 8000000L
  private lazy val calExpected = fold(calN)

  def hostcalMs(spark: SparkSession, cores: Int): Double = {
    val n = calN
    def leg(): Double = {
      val t0 = System.nanoTime()
      val r = spark.sparkContext.parallelize(0 until cores, cores)
        .map(_ => fold(n)).collect()
      require(r.forall(_ == calExpected), "calibration fold drifted")
      (System.nanoTime() - t0) / 1e6
    }
    leg()
    (1 to 3).map(_ => leg()).min
  }

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the JIT compiler threads, from /proc (they are not Java
    * threads, so the thread MXBean cannot see them). Compilation is the
    * JVM warming up, not the engine working, and how much of it lands in
    * a given query varies from run to run.
    */
  private def jitCpuNs(): Long = {
    val nsPerTick = 10000000L // USER_HZ = 100
    val dirs = Option(new File("/proc/self/task").listFiles())
      .getOrElse(Array.empty[File])
    dirs.iterator.map { d =>
      try {
        val name = new String(Files.readAllBytes(
          Paths.get(d.getPath, "comm")), StandardCharsets.UTF_8)
        if (!name.contains("CompilerThre")) 0L
        else {
          val stat = new String(Files.readAllBytes(
            Paths.get(d.getPath, "stat")), StandardCharsets.UTF_8)
          // fields after the parenthesised name; utime and stime are the
          // 14th and 15th of the whole line
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * nsPerTick
        }
      } catch { case _: java.io.IOException => 0L } // thread exited
    }.sum
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .collectFirst { case l: String if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(-1.0)

  private[perfbench] def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[perfbench] def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dataDir = kv("data")
    val queries = kv("queries").split(",").toSeq
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val outDir = kv("out")
    val launchMs = kv("launch").toDouble * 1000.0
    val cores = kv("cores").toInt
    new File(outDir).mkdirs()

    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamProgressListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = epochMs()

    val registry = graft.SparkEntry.queries
    val missing = queries.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    // Between-query hygiene, outside every timed interval: drop persisted
    // intermediates and unload drained state stores (each drain stages a
    // fresh checkpoint, so nothing is reused), then collect garbage so
    // every query starts from a quiet heap.
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
      System.gc()
    }

    val outputStart = epochMs()
    // untimed output pass, written for the digest check made by the caller
    val outputs = queries.sorted.map { name =>
      val ok =
        try {
          registry(name)(spark, dataDir).coalesce(1).write
            .mode("overwrite").parquet(s"$outDir/outputs/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] output $name failed: " +
            e.getMessage)
          false
        }
      hygiene()
      s"${q(name)}:$ok"
    }
    val warmStart = epochMs()
    // per-pass CPU still falls by ~10 % from the second execution of each
    // query to the third (JIT), so two noop passes follow the output pass
    for (_ <- 0 until 2; name <- queries) {
      try registry(name)(spark, dataDir).write.format("noop")
        .mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $name failed: " +
          e.getMessage)
      }
      hygiene()
    }
    val warmEndMs = epochMs()
    val calBefore = hostcalMs(spark, cores)

    val recorder = new TraceRecorder(spark)
    val execs = ArrayBuffer[String]()
    var firstTimedMs = Double.NaN
    val timedStart = System.nanoTime()
    var pass = 0
    // complete passes only: keep starting passes until `seconds` have
    // gone by, and always run at least three (four when tracing), so a
    // per-query median can drop one disturbed pass
    val minPasses = if (traced) 4 else 3
    while (pass < minPasses ||
           (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val order = new scala.util.Random(seed * 1000003L + pass)
        .shuffle(queries)
      // trace runs interleave untraced and traced passes (U T T U ..), so
      // the tracing overhead is measured inside the same run and the
      // passes still warming up fall on both sides alike
      val tracePass = traced && (pass % 4 == 1 || pass % 4 == 2)
      if (tracePass) recorder.attach() else recorder.detach()
      order.zipWithIndex.foreach { case (name, i) =>
        val id = s"p$pass.$i"
        spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
        val compileNs0 = CodeGenerator.compileTime
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
        val hits0 = HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount
        val cpu0 = osBean.getProcessCpuTime - jitCpuNs()
        val t0 = epochMs()
        if (firstTimedMs.isNaN) firstTimedMs = t0
        var tb = Double.NaN
        val ok =
          try {
            val df: DataFrame = registry(name)(spark, dataDir)
            tb = epochMs()
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
            false
          }
        val t1 = epochMs()
        val cpuNs = osBean.getProcessCpuTime - jitCpuNs() - cpu0
        spark.sparkContext.clearJobGroup()
        execs += s"""{"id":${q(id)},"pass":$pass,"q":${q(name)},""" +
          s""""traced":$tracePass,"ok":$ok,"t0":${num(t0)},""" +
          s""""tb":${num(tb)},"t1":${num(t1)},"cpu_ns":$cpuNs,""" +
          s""""compile_ns":${CodeGenerator.compileTime - compileNs0},""" +
          s""""compiles":${CodegenMetrics.METRIC_COMPILATION_TIME
            .getCount - compiles0},""" +
          s""""files_discovered":${HiveCatalogMetrics
            .METRIC_FILES_DISCOVERED.getCount - files0},""" +
          s""""file_cache_hits":${HiveCatalogMetrics
            .METRIC_FILE_CACHE_HITS.getCount - hits0}}"""
        hygiene()
      }
      pass += 1
    }
    recorder.detach()
    val timedEndMs = epochMs()
    val peakRss = vmHwmMb()
    val calAfter = hostcalMs(spark, cores)

    recorder.drain()
    if (traced) recorder.writeEvents(s"$outDir/events.jsonl")
    val progress = StreamProgressListener.snapshot()
    writeFile(s"$outDir/result.json",
      "{" +
        s""""launch_ms":${num(launchMs)},""" +
        s""""session_ready_ms":${num(sessionReadyMs)},""" +
        s""""output_start_ms":${num(outputStart)},""" +
        s""""warm_start_ms":${num(warmStart)},""" +
        s""""warm_end_ms":${num(warmEndMs)},""" +
        s""""first_timed_ms":${num(firstTimedMs)},""" +
        s""""timed_end_ms":${num(timedEndMs)},""" +
        s""""passes":$pass,""" +
        s""""peak_rss_mb":${num(peakRss)},""" +
        s""""hostcal_ms_before":${num(calBefore)},""" +
        s""""hostcal_ms_after":${num(calAfter)},""" +
        s""""cores":$cores,""" +
        s""""execs":${execs.mkString("[", ",", "]")},""" +
        s""""progress":${progress.mkString("[", ",", "]")},""" +
        s""""outputs":${outputs.mkString("{", ",", "}")}""" +
        "}")
    spark.stop()
  }

  private[perfbench] def writeFile(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}
