package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on $SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced through the `noop` sink so
  * every column is fully computed (a `count()` would let Catalyst prune
  * the work away and flatter the numbers).
  *
  * NOISE ROBUSTNESS: each query runs `reps` times (default 3,
  * $SPARK_GRAFT_BENCH_REPS to override) and the reported per-query
  * number is the MEDIAN of its runs — a single-shot timing let one
  * transient machine stall inflate a 0.7 s query to 13.9 s in a recorded
  * run. Reps are REP-MAJOR with a different seeded query order per pass
  * (see the order block in main): back-to-back reps let one episode of
  * neighbor contention poison ALL samples of the same alphabetical
  * block. Queries whose spread (max − min) exceeds their own median get
  * up to 2 extra passes before the median is taken — a spread that large
  * is contention evidence, and one more sample per outlier restores the
  * median. The JSON carries the per-query spread AND the raw per-rep
  * samples in execution order (`reps_s`) so a reader can see how
  * trustworthy each number is and WHICH rep a contention episode hit.
  *
  * FAILURE CONTAINMENT: a query that fails its first rep is NOT retried
  * — a pathological query (an OOM with minutes of GC thrash) must cost
  * one rep, not reps× its time-to-failure; it reports -1 and is excluded
  * from the total. Every query's result is also echoed to stderr AS IT
  * COMPLETES, so a run killed by an external timeout still leaves every
  * finished number behind (round 4 recorded nothing because one bad
  * query tripled its damage and blew the harness limit).
  *
  * WARM-UP PASS: one unrecorded execution of every query before the
  * timed passes (see main) — the first execution of anything pays
  * codegen + JIT + (for streaming) one-time micro-batch machinery
  * (state-store init, streaming-specific codegen); recorded runs swung
  * 10-60× across rounds on streaming medians for harness reasons, not
  * engine reasons, and sub-second queries carried ~0.2 s of JIT
  * convergence in their medians before the pass existed.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Published number for a query's rep times. Normally the plain
    * median; when the spread STILL exceeds the median after the
    * adaptive extra reps (persistent host contention — a recorded run
    * published 17.2 s for a query that re-measures at 5.7 s on an idle
    * machine), the median of the best 3 runs: contention only ever
    * inflates a timing, so the fastest runs are the ones measuring the
    * query rather than the neighbors. The JSON also carries the PLAIN
    * median per query (`"plain"`) so best-3 numbers are never silently
    * compared against plain-median baselines — a noisy genuine
    * regression must show up in at least one of the two series, and
    * benchgate treats its NOISY status as a mandatory re-run, not a
    * pass.
    */
  private def publish(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0
    else if (xs.max - xs.min > median(xs)) median(xs.sorted.take(3))
    else median(xs)

  private def plainMedian(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0 else median(xs)

  /** See [[HostCal]] — emitted as `hostcal_ms` in the bench artifact
    * so benchgate can normalize its growth threshold by host speed.
    */
  private def hostcalMs(): Double = HostCal.hostcalMs()

  /** Locale-independent fixed-point formatting for the JSON artifact:
    * the `f` interpolator uses the JVM default locale, so a host with a
    * comma decimal separator would emit `1,2345` inside `reps_s` and
    * corrupt the one-line JSON (ADVICE r15).
    */
  private[graft] def fmt4(t: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(t))

  /** Git SHA the artifact measured, so a bench payload can never
    * silently describe code other than the commit it sits next to
    * (VERDICT r15 #1: the committed r15 bench carried a pre-fix number
    * for the very query that round fixed). Resolved from the repo that
    * contains the classpath (CWD-independent — scale/focused legs run
    * from /tmp by ritual); `unknown` when git is unavailable rather
    * than failing the bench. `git_dirty` marks uncommitted src/ or
    * build changes: a dirty-tree artifact measures un-anchorable code.
    */
  private[graft] def gitInfo(): (String, Boolean) = {
    // The ../../.. hop is only valid for the sbt target/scala-2.13/
    // classes layout; from a jar or relocated classes dir, `git -C`
    // could resolve inside an UNRELATED enclosing repo and stamp a
    // wrong-but-plausible sha (ADVICE r16). Trust the candidate only
    // if it actually looks like this project (build.sbt present).
    def repoDir: Option[java.io.File] =
      try {
        val d = new java.io.File(
          SparkEntry.getClass.getProtectionDomain.getCodeSource
            .getLocation.toURI) // .../target/scala-2.13/classes
          .getParentFile.getParentFile.getParentFile
        if (d != null && new java.io.File(d, "build.sbt").isFile) Some(d)
        else None
      } catch { case _: Throwable => None }
    def run(args: String*): Option[String] =
      repoDir.flatMap { dir =>
        try {
          val p = new ProcessBuilder((Seq("git", "-C",
            dir.getAbsolutePath) ++ args): _*)
            .redirectErrorStream(true).start()
          val out = new String(p.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          if (p.waitFor() == 0) Some(out) else None
        } catch { case _: Throwable => None }
      }
    // BUILD-MANIFEST FALLBACK (r18, VERDICT r17 #3): a jar / relocated
    // classes dir can't resolve the repo, and "unknown" used to bypass
    // the artifact guard's stale-code check entirely. build.sbt bakes
    // "<sha> <clean|dirty>" into a generated resource at build time;
    // when the live git path fails, stamp THAT instead of unknown. The
    // live path still wins when available (it sees post-build edits).
    def manifestInfo: Option[(String, Boolean)] =
      try {
        val in = SparkEntry.getClass.getClassLoader
          .getResourceAsStream("graft-build-git.txt")
        if (in == null) None
        else {
          val txt = new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          in.close()
          txt.split("\\s+") match {
            case Array(sha, flag) if sha.length >= 7 && sha != "unknown" =>
              Some((sha, flag == "dirty"))
            case _ => None
          }
        }
      } catch { case _: Throwable => None }
    run("rev-parse", "HEAD") match {
      case Some(sha) =>
        val dirty = run("status", "--porcelain", "--",
          "src", "build.sbt").exists(_.nonEmpty)
        (sha, dirty)
      case None => manifestInfo.getOrElse(("unknown", false))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val only = args.toSet
    // REP-MAJOR SEEDED ORDER (round 13): reps used to run back-to-back
    // per query inside ONE alphabetical pass, so any neighbor tax that
    // survived the per-query hygiene (rounds 9 and 12 both measured
    // contiguous alphabetical blocks inflating together with none of
    // their code touched) hit ALL reps of the same victims — the median
    // could not absorb it and every such block cost a hand adjudication.
    // Each rep is now its own PASS over every query, in a DIFFERENT
    // seeded order per pass, so residual contention cannot land on the
    // same queries in every sample and the median over differently-
    // ordered passes absorbs a one-pass tax mechanically. The per-query
    // timing distribution is unchanged (first execution cold, the rest
    // warm — exactly rep 1 vs reps 2-3 before), so medians stay
    // comparable to prior rounds' baselines. The seed is FIXED (env
    // $SPARK_GRAFT_BENCH_SHUFFLE overrides the base seed) so runs are
    // reproducible.
    val baseOrder = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1))
    val defaultSeed = 13013L
    val passSeed = sys.env.get("SPARK_GRAFT_BENCH_SHUFFLE") match {
      case Some(seed) =>
        // a malformed seed must not abort the whole run before any
        // query executes — warn and fall back to the default seed
        scala.util.Try(seed.trim.toLong) match {
          case scala.util.Success(s) => s
          case scala.util.Failure(_) =>
            System.err.println(s"[bench] SPARK_GRAFT_BENCH_SHUFFLE=" +
              s"'$seed' is not a long; using default seed $defaultSeed")
            defaultSeed
        }
      case None => defaultSeed
    }
    def passOrder(pass: Int): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      new scala.util.Random(passSeed + pass).shuffle(baseOrder)
    // WARM-UP PASS (unrecorded): every query once, alphabetical, before
    // any timed sample — per-query numbers must measure the PLAN, not
    // first-call compilation (the round-12 protocol warmed only q1_agg
    // plus one streaming drain; per-pass means in the r13 full run were
    // still converging 0.58 → 0.44 → 0.40 s on sub-second queries, so a
    // third of every median was JIT warm-up, not engine). With it, all
    // recorded passes are steady-state — directly comparable to the old
    // query-major protocol whose median also landed on warm reps.
    // PRE-FLIGHT CONTENTION CHECK (VERDICT r15 #7): the r15 driver leg
    // self-declared CONTENDED only after burning a full 416 s run. One
    // parallel hostcal sample BEFORE any warm-up (HostCal self-warms
    // with an unrecorded leg, so a cold JVM does not read as
    // contention); HostCal.preflight holds the warn/abort contract.
    val (preflightPar, preflightContended) =
      HostCal.preflight(spark, "bench")

    def runOnce(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
      }
    val w0 = System.nanoTime()
    baseOrder.foreach { case (n, _) =>
      runOnce(n)
      // same cache/state hygiene as timed runs (persisted intermediates
      // and drained state stores must not leak into pass 0), but no
      // per-query System.gc — warm-up isn't measured
      spark.catalog.clearCache()
      org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    }
    System.err.println(f"[bench] warm-up pass: ${baseOrder.size} " +
      f"queries in ${(System.nanoTime() - w0) / 1e9}%.1f s")
    spark.catalog.clearCache()
    // calibrate BEFORE and AFTER the query loop: round 11's host slowed
    // ~7% DURING the session (1950 -> 2090 ms on the python twin), so a
    // single start-of-run sample under-reports the tax the later
    // queries actually paid; the published number is the mean of both.
    // BOTH legs: single-thread (hostcal_ms, threshold normalization in
    // benchgate) and 32-task parallel (hostcal_par_ms — the regime the
    // bench actually runs in; r12's driver/builder 4% skew was invisible
    // to the single-thread leg).
    val hostcalStart = hostcalMs()
    val hostcalParStart = HostCal.hostcalParMs(spark)
    System.err.println(s"[bench] hostcal_ms_start=$hostcalStart " +
      s"hostcal_par_ms_start=$hostcalParStart")

    val timesByQuery = scala.collection.mutable.LinkedHashMap(
      baseOrder.map { case (n, _) =>
        n -> scala.collection.mutable.ArrayBuffer[Double]() }: _*)
    val failedSet = scala.collection.mutable.Set[String]()

    /** One timed execution + the between-query hygiene (all of it with
      * the clock stopped): drop persisted intermediates, unload drained
      * streaming state-store providers (RocksDB instances with native
      * memory + background compaction stay LOADED until the maintenance
      * thread's next pass and are pure neighbor tax — rounds 9 and 12
      * both measured contiguous post-streaming blocks inflating 2-4× in
      * full runs only), and one explicit GC so each number starts from
      * a quiet heap instead of paying the previous query's garbage.
      */
    def runTimed(pass: String, name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      if (!failedSet(name)) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          timesByQuery(name) += t
          // incremental checkpoint: a killed run keeps every finished
          // sample behind in stderr
          System.err.println(f"[bench] pass=$pass $name t=$t%.4f")
        } catch { case e: Throwable =>
          // fail fast: one failed execution marks the query failed and
          // skips its remaining passes — re-proving a failure reps× is
          // what erased round 4's numbers
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failedSet += name
        }
        spark.catalog.clearCache()
        org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
        System.gc()
      }

    // PER-PASS CONTENTION STAMPS (VERDICT r17 #2): one parallel-hostcal
    // sample after EACH pass, emitted as `hostcal_par_ms_passes`, so a
    // mid-run contention episode is visible mechanically — the r17 leg
    // was preflight-clean yet drifted 30% BETWEEN the start/end
    // samples, and adjudicating which pass an episode hit demanded a
    // fresh focused leg every round. With the stamps, benchgate can
    // discount reps from contended windows itself (~1 s per pass, far
    // cheaper than the per-round focused-leg ritual). Keyed by the
    // runTimed pass label so extra passes align with their reps.
    val passCal =
      scala.collection.mutable.LinkedHashMap[String, Double]()
    for (pass <- 0 until reps) {
      passOrder(pass).foreach { case (n, fn) => runTimed(s"$pass", n, fn) }
      passCal(s"$pass") = HostCal.hostcalParMs(spark)
      System.err.println(s"[bench] pass $pass hostcal_par_ms=" +
        s"${passCal(s"$pass")}")
    }

    // ADAPTIVE RE-MEASURE: when a query's spread across passes exceeds
    // its median, at least one sample was machine contention, not the
    // query (a recorded run showed 42 s for a 3.8 s query — its own
    // 4.8 s spread already said so). Up to `maxExtra` extra passes over
    // just the still-noisy queries make the median robust to a single
    // outlier instead of publishing it.
    val maxExtra = 2
    def noisy(n: String) = {
      val ts = timesByQuery(n)
      ts.nonEmpty && (ts.max - ts.min) > median(ts.toSeq)
    }
    for (extra <- 0 until maxExtra) {
      val noisyQs = passOrder(reps + extra)
        .filter { case (n, _) => !failedSet(n) && noisy(n) }
      noisyQs.foreach { case (n, fn) => runTimed(s"extra$extra", n, fn) }
      if (noisyQs.nonEmpty) {
        passCal(s"extra$extra") = HostCal.hostcalParMs(spark)
        System.err.println(s"[bench] pass extra$extra hostcal_par_ms=" +
          s"${passCal(s"extra$extra")}")
      }
    }

    val results = baseOrder.map { case (name, _) =>
      val ts = timesByQuery(name).toSeq
      val ok = !failedSet(name)
      val med = if (!ok) -1.0 else publish(ts)
      System.err.println(f"[bench] $name median=$med%.4f " +
        f"spread=${if (!ok || ts.isEmpty) -1.0 else ts.max - ts.min}%.4f")
      (name, ts, ok)
    }
    // a failed query reports -1 and is EXCLUDED from the total — folding
    // its time-to-failure in would silently report a total over a
    // partially-failed run.
    val qs = results.map { case (k, ts, ok) =>
      "\"" + k + "\":" + (if (ok) publish(ts) else -1) }.mkString("{", ",", "}")
    val spread = results.collect { case (k, ts, true) if ts.nonEmpty =>
      "\"" + k + "\":" + (ts.max - ts.min) }.mkString("{", ",", "}")
    val plain = results.collect { case (k, ts, true) if ts.nonEmpty =>
      "\"" + k + "\":" + plainMedian(ts) }.mkString("{", ",", "}")
    // per-rep RAW samples, in execution order (r14 lesson: medians +
    // spread hide WHICH rep was poisoned — q78's 14.6 s median with a
    // 13.8 s spread took a round to adjudicate; three raw numbers per
    // query make it mechanical: one outlier rep = contention episode,
    // all reps high = a real move)
    val repsRaw = results.collect { case (k, ts, true) if ts.nonEmpty =>
      "\"" + k + "\":" + ts.map(fmt4).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, ts, true) => publish(ts) }.sum
    val hostcalEnd = hostcalMs()
    val hostcalParEnd = HostCal.hostcalParMs(spark)
    System.err.println(s"[bench] hostcal_ms_end=$hostcalEnd " +
      s"hostcal_par_ms_end=$hostcalParEnd")
    val hostcal = math.round((hostcalStart + hostcalEnd) / 2 * 10.0) / 10.0
    val hostcalPar =
      math.round((hostcalParStart + hostcalParEnd) / 2 * 10.0) / 10.0
    // OPTIONAL OUTPUT-CARDINALITY PASS (r19, VERDICT r18 #3): with
    // $SPARK_GRAFT_BENCH_ROWS=1, one UNTIMED count() per non-failed
    // query after the end-of-run calibration, emitted as "rows":{...}.
    // Scale legs then carry their measured output cardinality, so a
    // scalegate note's "output grew ~Nx" claim becomes a measured
    // column instead of prose (scalegate prints the rows ratio next to
    // each compared query when both payloads carry it). Off by
    // default: the timed protocol and the driver artifact shape are
    // unchanged unless explicitly requested, and the count() runs with
    // the clock stopped either way.
    val rowsJson =
      if (sys.env.get("SPARK_GRAFT_BENCH_ROWS").contains("1")) {
        val entries = results.collect { case (name, _, true) =>
          val n =
            try SparkEntry.queries(name)(spark, sfDir).count()
            catch { case e: Throwable =>
              System.err.println(
                s"[bench] rows $name failed: ${e.getMessage}")
              -1L
            }
          spark.catalog.clearCache()
          org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
          System.err.println(s"[bench] rows $name=$n")
          "\"" + name + "\":" + n
        }
        ",\"rows\":" + entries.mkString("{", ",", "}")
      } else ""
    // n_registry = the FULL query registry size regardless of any args
    // filter: benchgate refuses to gate a payload covering fewer queries
    // than the registry (r12's end-of-round snapshot committed a 1-query
    // smoke artifact that would have silently become a 1/290 baseline)
    val nRegistry = SparkEntry.queries.size
    val (gitSha, gitDirty) = gitInfo()
    val passCalJson = passCal
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"plain":$plain,"spread":$spread,"reps_s":$repsRaw,"reps":$reps,"failed":$failed,"hostcal_ms":$hostcal,"hostcal_ms_start":$hostcalStart,"hostcal_ms_end":$hostcalEnd,"hostcal_par_ms":$hostcalPar,"hostcal_par_ms_start":$hostcalParStart,"hostcal_par_ms_end":$hostcalParEnd,"hostcal_par_ms_passes":$passCalJson,"preflight_par_ms":$preflightPar,"preflight_contended":$preflightContended,"git_sha":"$gitSha","git_dirty":$gitDirty,"n_registry":$nRegistry,"order":"rep-shuffled(seed=$passSeed)","sf":"$sfDir"$rowsJson}"""
    // DURABLE ARTIFACT: the harness records a bounded TAIL of stdout
    // (~2000 chars), and with 270+ queries the full one-line JSON
    // outgrows that window by >10x — rounds 3-9 recorded `parsed: null`
    // because the line's head (including the total) was truncated away.
    // The FULL JSON therefore goes to a file (bench_out.json, committed
    // per round), to stderr (unbounded in the harness log), and stdout
    // gets a COMPACT line that fits the tail window whole: total +
    // failures + the slowest 25 queries + a pointer to the full file.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
      // CLOBBER GUARD (VERDICT r15 #3): a focused/contended leg run from
      // the repo CWD used to silently replace the committed round
      // artifact in the working tree, one careless `git add` from being
      // committed. An existing artifact with a DIFFERING total is
      // preserved as `<name>.prev.json` before the overwrite — nothing
      // is ever lost, and `git diff` shows the clobber instead of hiding
      // it. Same-total overwrites (re-runs of the same leg) skip the
      // backup to avoid churn.
      if (java.nio.file.Files.exists(out)) {
        val prior = new String(java.nio.file.Files.readAllBytes(out),
          java.nio.charset.StandardCharsets.UTF_8)
        val priorTotal = """"value":([0-9.Ee+-]+)""".r
          .findFirstMatchIn(prior).map(_.group(1))
        if (!priorTotal.contains(total.toString)) {
          val bak = out.resolveSibling(
            out.getFileName.toString.stripSuffix(".json") + ".prev.json")
          java.nio.file.Files.write(bak,
            prior.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"[bench] existing artifact (total=" +
            s"${priorTotal.getOrElse("?")}) backed up to $bak before " +
            "overwrite")
        }
      }
      java.nio.file.Files.write(out,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full JSON written to ${out.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
    System.err.println(json)
    val slowest = results.collect { case (k, ts, true) if ts.nonEmpty =>
      (k, publish(ts)) }.sortBy(-_._2).take(25)
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$slowest,"n_queries":${results.size},"n_reported":${results.count(_._3)},"queries_truncated_to_slowest":25,"full":"bench_out.json","reps":$reps,"failed":$failed,"hostcal_ms":$hostcal,"sf":"$sfDir"}""")
    spark.stop()
  }
}
