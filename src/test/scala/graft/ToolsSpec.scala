package graft

import org.apache.spark.sql.Row

/** The two builder tools: [[Plan]]'s three plan sections and [[AB]]'s
  * protocol (arm isolation, output cross-check, host-calibration stamps).
  */
class ToolsSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("Plan shows the pinned rounds of a pinning query") {
    val text = Plan.render(spark, "q91_hyperplane_lsh", sf)
    assert(text.contains("== Initial plan =="))
    assert(text.contains("== Pinned round 1 "), text)
  }

  test("Plan shows the final adaptive plan of a query with an exchange") {
    val text = Plan.render(spark, "q7_broadcast_join", sf)
    val (initial, fin) = text.splitAt(text.indexOf("== Final adaptive plan"))
    assert(initial.contains("isFinalPlan=false"), initial)
    assert(fin.contains("isFinalPlan=true"), fin)
  }

  test("AB over AQE on/off: arms identical, hostcal stamped") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    val report = AB.run(spark, Seq("q113_pagerank"), Seq(key -> "true"),
      Seq(key -> "false"), reps = 1)(SparkEntry.queries(_)(spark, sf))
    assert(report.exists(l =>
      l.startsWith("q113_pagerank rows=") && l.endsWith("identical=true")),
      report.mkString("\n"))
    Seq("hostcal_par_ms_start=", "hostcal_par_ms_end=").foreach { p =>
      assert(report.exists(_.startsWith(p)), report.mkString("\n"))
    }
    assert(spark.conf.getOption(key) == before)
  }

  test("a key set only by arm A is absent while arm B runs") {
    val onlyA = "graft.test.abOnlyA"
    val shared = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(shared)
    val seen =
      scala.collection.mutable.ArrayBuffer[(String, Option[String])]()
    AB.run(spark, Seq("probe"), Seq(onlyA -> "on", shared -> "3"),
      Seq(shared -> "5"), reps = 2) { _ =>
      seen += spark.conf.get(shared) -> spark.conf.getOption(onlyA)
      spark.range(3).toDF()
    }
    assert(seen.map(_._1).toSet == Set("3", "5"))
    seen.foreach {
      case ("3", a) => assert(a.contains("on"))
      case (_, a) => assert(a.isEmpty, seen)
    }
    assert(spark.conf.getOption(onlyA).isEmpty)
    assert(spark.conf.get(shared) == before)
  }

  test("the row comparison is a multiset compare that names a differing row") {
    val a = Seq((1, "x"), (2, "y"), (2, "y")).toDF("k", "v").collect().toSeq
    assert(AB.rowDifference(a, a.reverse).isEmpty)
    val b = Seq((1, "x"), (2, "y"), (3, "y")).toDF("k", "v").collect().toSeq
    val d = AB.rowDifference(a, b)
    assert(d.exists(_.contains("A=[2,\"y\"] B=[3,\"y\"]")), d)
    // binary values compare by content, not by array identity
    val bin = Seq(Row(Array[Byte](1, 2)))
    assert(AB.rowDifference(bin, Seq(Row(Array[Byte](1, 2)))).isEmpty)
    assert(AB.rowDifference(bin, Seq(Row(Array[Byte](1, 3)))).isDefined)
    // a value's separators cannot make two different rows look alike
    assert(AB.rowDifference(Seq(Row("a,b", "c")), Seq(Row("a", "b,c")))
      .isDefined)
  }

  test("a conf whose arms disagree fails the run") {
    val key = "graft.test.abArm"
    val e = intercept[RuntimeException] {
      AB.run(spark, Seq("probe"), Seq(key -> "1"), Seq(key -> "2"),
        reps = 1)(_ => spark.range(2).toDF().where(
          org.apache.spark.sql.functions.lit(spark.conf.get(key)) === "1" ||
            $"id" === 0))
    }
    assert(e.getMessage.contains("probe: arms disagree"), e.getMessage)
    assert(spark.conf.getOption(key).isEmpty)
  }
}
