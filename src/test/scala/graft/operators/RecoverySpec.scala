package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Executor-loss recovery semantics of the iterative operators' pinned
  * rounds: `reliable = true` must survive losing every executor-cached
  * block (round data lives in the checkpoint DIRECTORY — HDFS/object
  * storage on a cluster), while the `localCheckpoint` default is
  * documented as irrecoverable once an executor holding a pinned block
  * dies. This spec proves BOTH directions of that scaladoc claim
  * (Components class doc, FAULT TOLERANCE) by removing the pinned RDDs'
  * blocks out from under an already-computed result — the closest
  * local-mode analog of killing an executor mid-job.
  */
class RecoverySpec extends SparkTestBase {
  import spark.implicits._

  /** Remove every cached block of every LogicalRDD leaf in df's plan.
    * Persisted lineage-bearing frames just recompute from source;
    * checkpoint-truncated RDDs cannot — their recovery story is
    * exactly what `reliable` selects.
    */
  private def killPinnedBlocks(df: DataFrame): Unit = {
    val bm = org.apache.spark.SparkEnv.get.blockManager.master
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        bm.removeRdd(lr.rdd.id, blocking = true)
      case _ => ()
    }
  }

  /** `connectedComponents`' above-threshold branch: star contraction,
    * the pin-heavy route the recovery claim is about (the small test
    * graphs would otherwise close on the driver).
    */
  private def distributedClosure(edges: DataFrame,
                                 reliable: Boolean): DataFrame =
    Components.connectedComponents(edges, "a", "b", reliable,
      localMaxEdges = 0L)

  private def chainGraph(n: Long): DataFrame = {
    // a path graph (diameter n-1) plus a few random chords
    val rnd = new scala.util.Random(11)
    spark.range(n - 1).select($"id".as("a"), ($"id" + 1).as("b"))
      .union(Seq.fill(64)((rnd.nextLong(n), rnd.nextLong(n)))
        .toDF("a", "b"))
  }

  test("pageRank reliable=true survives losing every pinned block") {
    withTempDir("graft_recovery_pr") { dir =>
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L),
        (5L, 1L), (5L, 3L)).toDF("s", "d")
      val pr = Graph.pageRank(edges, "s", "d", iterations = 6,
        reliable = true)
      val before = pr.as[(Long, Double)].collect().toMap
      killPinnedBlocks(pr)
      val after = pr.as[(Long, Double)].collect().toMap
      assert(after == before,
        "reliable pageRank must re-read its rounds from the " +
          "checkpoint directory after block loss")
    }
  }

  test("star-contraction closure reliable=true survives losing every pinned block") {
    withTempDir("graft_recovery_cc") { dir =>
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val labels = distributedClosure(chainGraph(3000L), reliable = true)
      val before = labels.as[(Long, Long)].collect().toMap
      assert(before.values.forall(_ == 0L),
        "chain connects everything to component 0")
      killPinnedBlocks(labels)
      val after = labels.as[(Long, Long)].collect().toMap
      assert(after == before,
        "reliable closure must re-read its labels from the " +
          "checkpoint directory after block loss")
    }
  }

  test("BPE training reliable=true survives losing every pinned block") {
    withTempDir("graft_recovery_bpe") { dir =>
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      // a thousands-of-rounds training job on a real cluster must not
      // restart from zero on one executor loss — same contract as the
      // closure/pagerank loops
      val words = Seq(("lower", 5L), ("lowest", 3L), ("newer", 6L),
        ("wider", 2L), ("low", 7L)).toDF("word", "freq")
      val merges = Bpe.bpeMerges(words, "word", "freq", nMerges = 6,
        reliable = true)
      val before = merges.as[(Int, String, String, Long)].collect().toSet
      assert(before.nonEmpty)
      killPinnedBlocks(merges)
      val after = merges.as[(Int, String, String, Long)].collect().toSet
      assert(after == before,
        "reliable BPE must re-read its merge rounds from the " +
          "checkpoint directory after block loss")
      // and the reliable run trains the identical table as the default
      val local = Bpe.bpeMerges(words, "word", "freq", nMerges = 6)
        .as[(Int, String, String, Long)].collect().toSet
      assert(local == before)
    }
  }

  test("localCheckpoint default is irrecoverable after block loss (the documented trade)") {
    // contrast direction: the local path's pinned rounds live ONLY in
    // executor blocks with truncated lineage — losing them must fail
    // the recompute rather than silently return something wrong
    val labels = distributedClosure(chainGraph(3000L), reliable = false)
    labels.count() // fully computed once
    killPinnedBlocks(labels)
    val e = intercept[Exception] { labels.count() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("Checkpoint block") ||
           msgs.contains("checkpoint"),
      s"expected the documented checkpoint-block failure, got: $msgs")
  }
}
