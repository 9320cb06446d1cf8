package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Components.PinPlanCapture

/** Builder tooling: the plans of registered queries, from one session
  * for the whole list. Three sections per query:
  *  1. the formatted initial plan (`explain("formatted")`);
  *  2. each pinned round's executed plan. Iterative operators execute
  *     their pinned rounds at CONSTRUCTION (Components.pin is an eager
  *     checkpoint), so the result frame's plan is just a LogicalRDD scan
  *     there; the real plan evidence is what each pin executed;
  *  3. the final adaptive plan after one `collect()`. The initial plan
  *     carries `isFinalPlan=false`, and with the UI disabled there is no
  *     SQL tab to read the re-optimized one from; after execution
  *     `queryExecution.executedPlan` carries the materialized AQE stages,
  *     the runtime join strategies and any ReusedExchange nodes.
  *
  * This is how PlanSpec pins get written: read the plans, decide which
  * nodes are load-bearing for scale, then assert exactly those.
  *
  * Usage: runMain graft.Plan <q1,q2,...> [sfDir] [outDir]
  *   writes <outDir>/<query>.txt for each query, or stdout without outDir.
  */
object Plan {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Plan <q1,q2,...> [sfDir] [outDir]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sf = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(2).map(Paths.get(_))
    outDir.foreach(Files.createDirectories(_))
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val text = render(spark, name, sf)
      outDir match {
        case Some(d) =>
          Files.write(d.resolve(s"$name.txt"),
            text.getBytes(StandardCharsets.UTF_8))
          System.err.println(s"[plan] wrote $name")
        case None => println(text)
      }
    }
    spark.stop()
  }

  /** The three plan sections of one registered query. */
  def render(spark: SparkSession, name: String, sfDir: String): String = {
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    try {
      val (df, pins) = capturePins(fn(spark, sfDir))
      val initial = df.queryExecution.explainString(FormattedMode)
      val pinned = pins.zipWithIndex.map { case (p, i) =>
        s"== Pinned round ${i + 1} (executed plan at construction) ==\n$p"
      }
      // collect(), NOT a noop write: the write path builds its OWN
      // QueryExecution, leaving df.queryExecution unexecuted (its
      // executedPlan would print the initial plan with no materialized
      // AQE stages). collect() runs the Dataset's own execution.
      // Registered queries return report-sized results, so the driver
      // collect is safe here.
      val rows = df.collect().length
      (Seq(s"==== $name ====", "== Initial plan ==", initial) ++ pinned ++
        Seq(s"== Final adaptive plan (after collect, rows=$rows) ==",
          df.queryExecution.executedPlan.toString)).mkString("\n")
    } finally {
      // a query fn may leave behind persisted intermediates or loaded
      // state-store providers (streaming drains execute at construction)
      spark.catalog.clearCache()
      org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    }
  }

  /** Evaluate `body` while capturing, on this thread, the executed plan
    * of every frame it pins; returns its result and those plans.
    */
  def capturePins[T](body: => T): (T, Seq[String]) = {
    PinPlanCapture.start()
    try {
      val r = body
      (r, PinPlanCapture.stop())
    } finally PinPlanCapture.stop()
  }
}
