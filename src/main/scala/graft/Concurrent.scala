package graft
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** Concurrency leg (builder tooling): run the full query registry as N
  * interleaved streams over ONE shared SparkSession — disjoint query
  * subsets, each stream writing Verify-shaped parquet into `outDir` —
  * so the outputs can be oracle-checked by the SAME
  * `scripts/selfcheck.py` gate a solo Verify run uses. All gated
  * evidence so far is single-query-at-a-time; a real deployment runs
  * queries concurrently, and the bug class this leg exists to catch
  * (session-global conf/cache mutation, scratch-path collisions,
  * state-store unload races) is invisible to any solo run.
  *
  * Deliberate differences from Verify:
  *  - NO per-query `spark.catalog.clearCache()` / state-store unload:
  *    both are session-global; firing them from stream A mid-flight of
  *    stream B is itself the shared-state bug this leg hunts. Operator
  *    intermediates are pinned (ContextCleaner-scoped) so nothing
  *    needs the between-queries sweep for correctness.
  *  - Queries are assigned round-robin by sorted index so every stream
  *    carries a similar mix of heavy/light queries.
  *
  * Usage: runMain graft.Concurrent <sfDir> <outDir>
  *   SPARK_GRAFT_STREAMS (default 2) concurrent streams.
  * Prints one JSON line with total wall, per-stream walls, and
  * failures; exits nonzero if any query failed.
  */
object Concurrent {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val streams = sys.env.getOrElse("SPARK_GRAFT_STREAMS", "2").toInt
    require(streams >= 2, "a 1-stream run is just Verify — use that")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // PRE-FLIGHT (VERDICT r16 #3): the r16 concurrency walls ran in a
    // contended window and were informational-only. Same contract as
    // Bench (HostCal.preflight), stamped into the payload.
    val (preflightPar, preflightContended) =
      HostCal.preflight(spark, "concurrent")

    val names = SparkEntry.queries.keys.toVector.sorted
    val assign = names.zipWithIndex
      .groupMap { case (_, i) => i % streams } { case (n, _) => n }
    val failures = new ConcurrentLinkedQueue[String]()
    val streamWall = new ConcurrentHashMap[Int, Double]()
    val t0 = System.nanoTime()
    val threads = (0 until streams).map { i =>
      val mine = assign.getOrElse(i, Vector.empty)
      new Thread(() => {
        val s0 = System.nanoTime()
        mine.foreach { name =>
          try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            failures.add(s"$name: ${e.getClass.getSimpleName}: " +
              s"${e.getMessage}")
            System.err.println(s"[concurrent] stream $i $name FAILED: " +
              s"${e.getMessage}")
          }
        }
        streamWall.put(i, (System.nanoTime() - s0) / 1e9)
      }, s"graft-stream-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val hostcalParEnd = HostCal.hostcalParMs(spark)
    Verify.writeOracleJson(outDir)
    val perStream = (0 until streams)
      .map(i => s""""s$i":${streamWall.getOrDefault(i, -1.0)}""")
      .mkString(",")
    // Verify.jsonQ escapes control chars too — Spark exception messages
    // routinely embed plan dumps with newlines, which a quote-only
    // escaper would leave as an unparseable multi-line "one JSON line".
    val fails = failures.toArray
      .map(f => Verify.jsonQ(f.toString)).mkString(",")
    val (gitSha, gitDirty) = Bench.gitInfo()
    println(s"""{"metric":"concurrent_wall","value":$wall,""" +
      s""""unit":"sec","streams":$streams,""" +
      s""""n_queries":${names.size},""" +
      s""""stream_wall":{$perStream},"failed":[$fails],""" +
      s""""preflight_par_ms":$preflightPar,""" +
      s""""preflight_contended":$preflightContended,""" +
      // the preflight sample doubles as the start-of-run calibration
      // under the SAME key Bench uses, so the artifact guard's
      // start/end within-run drift check applies mechanically to
      // concurrency legs too (ADVICE r17)
      s""""hostcal_par_ms_start":$preflightPar,""" +
      s""""hostcal_par_ms_end":$hostcalParEnd,""" +
      s""""git_sha":"$gitSha","git_dirty":$gitDirty}""")
    spark.stop()
    if (!failures.isEmpty) sys.exit(1)
  }
}
