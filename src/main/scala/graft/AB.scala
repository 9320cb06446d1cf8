package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Builder tooling: in-session A/B of session confs over registered
  * queries. Each arm is a set of conf entries; both arms run interleaved
  * in ONE JVM (A, B, A, B, ...) so a host phase cannot masquerade as a
  * conf effect. Each execution gets the bench hygiene (clearCache +
  * state-store unload + gc, clock stopped). The protocol:
  *  - once, untimed: both arms collect every query and the two results
  *    must be the same rows (sorted multisets) — a conf under test may
  *    not change what a query computes; a mismatch fails the run and
  *    names the first differing row;
  *  - one unrecorded warm-up execution per query and arm;
  *  - `reps` interleaved timed passes (noop sink), bracketed by
  *    parallel host-calibration stamps ([[HostCal.hostcalParMs]]).
  * Every key an arm sets is restored (or unset) when that arm's run
  * ends, so a key set only by arm A is absent while arm B runs.
  *
  * Usage: runMain graft.AB <q1,q2,...> <k=v[,k=v..]> <k=v[,k=v..]>
  *        [reps] [sfDir]
  * e.g. graft.AB q113_pagerank spark.sql.adaptive.enabled=true
  *        spark.sql.adaptive.enabled=false
  */
object AB {
  type Arm = Seq[(String, String)]

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: AB <q1,q2,...> <k=v[,k=v..]> <k=v[,k=v..]> [reps] [sfDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = args.lift(3).fold(3)(_.toInt)
    val sf = args.lift(4).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, names, parseArm(args(1)), parseArm(args(2)), reps)(
      n => SparkEntry.queries(n)(spark, sf)).foreach(println)
    spark.stop()
  }

  /** `k=v[,k=v..]` → the arm's conf entries. */
  def parseArm(s: String): Arm =
    s.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => sys.error(s"arm entry must be k=v: $kv")
      }
    }.toSeq

  /** Run the protocol above over `names`, building each query with
    * `query`; returns the report lines.
    */
  def run(spark: SparkSession, names: Seq[String], armA: Arm, armB: Arm,
          reps: Int)(query: String => DataFrame): Seq[String] = {
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
      System.gc()
    }
    def noop(n: String): Unit =
      query(n).write.format("noop").mode("overwrite").save()
    val arms = Seq("A" -> armA, "B" -> armB)
    def show(arm: Arm) = arm.map { case (k, v) => s"$k=$v" }.mkString(",")
    val report = Seq.newBuilder[String]
    report += s"A=${show(armA)} B=${show(armB)} reps=$reps"
    names.foreach { n =>
      val Seq(a, b) = arms.map { case (_, arm) =>
        try withArm(spark, arm)(query(n).collect().toSeq) finally hygiene()
      }
      rowDifference(a, b).foreach(d => sys.error(s"$n: arms disagree — $d"))
      report += s"$n rows=${a.length} identical=true"
    }
    for (n <- names; (_, arm) <- arms) {
      withArm(spark, arm)(noop(n)); hygiene()
    }
    report += s"hostcal_par_ms_start=${HostCal.hostcalParMs(spark)}"
    val times = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    for (pass <- 1 to reps; (label, arm) <- arms) withArm(spark, arm) {
      names.foreach { n =>
        val t0 = System.nanoTime()
        noop(n)
        val t = (System.nanoTime() - t0) / 1e9
        times((n, label)) = times((n, label)) :+ t
        System.err.println(f"[ab] pass=$pass arm=$label $n t=$t%.3f")
        hygiene()
      }
    }
    report += s"hostcal_par_ms_end=${HostCal.hostcalParMs(spark)}"
    def med(xs: List[Double]) = { val s = xs.sorted; s(s.length / 2) }
    names.foreach { n =>
      val a = med(times((n, "A"))); val b = med(times((n, "B")))
      report += f"$n%-32s A=$a%7.3f  B=$b%7.3f  B/A=${b / a}%5.2f  " +
        s"rawA=${times((n, "A")).map(Bench.fmt4)} " +
        s"rawB=${times((n, "B")).map(Bench.fmt4)}"
    }
    report.result()
  }

  /** Evaluate `body` with `arm`'s entries set on the session; each key
    * gets its previous value back afterwards, or is unset if it had none.
    */
  def withArm[T](spark: SparkSession, arm: Arm)(body: => T): T = {
    val saved = arm.map { case (k, _) => k -> spark.conf.getOption(k) }
    arm.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** None when `a` and `b` hold the same rows in any order (as
    * multisets); otherwise a description of the first differing row in
    * sorted order.
    */
  def rowDifference(a: Seq[Row], b: Seq[Row]): Option[String] = {
    val (x, y) = (a.map(canon).sorted, b.map(canon).sorted)
    // a canonical row starts with '[', so "<none>" pads unambiguously
    x.zipAll(y, "<none>", "<none>").collectFirst {
      case (p, q) if p != q =>
        s"first differing row: A=$p B=$q (rows A=${a.size} B=${b.size})"
    }
  }

  /** A row's values as a string that is equal exactly when the values
    * are: strings quoted, binary as hex (an array's toString is its
    * identity), map entries in sorted order, nested rows and arrays
    * recursively.
    */
  private def canon(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case bytes: Array[Byte] =>
      bytes.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
