package graft.functions

import graft.SparkTestBase

/** Error quality of the SQL function registry: a user who calls a graft
  * function with the wrong shape must get a message that NAMES the
  * function and states the expected arity — not a NullPointerException
  * or a MatchError from deep inside a builder. Iterates every
  * registered entry, so a newly registered kernel is covered without
  * touching this spec.
  */
class RegistryErrorSpec extends SparkTestBase {

  test("every registered function rejects wrong arity by name") {
    assert(GraftExtensions.entries.nonEmpty)
    GraftExtensions.entries.foreach { case (ident, _, builder) =>
      val e = intercept[IllegalArgumentException] {
        // no registered function is 0-ary AND 99-ary; one of the two
        // must trip the arity guard (0 also exercises the empty-Seq
        // path that a head/apply-based builder would NPE on)
        builder(Seq.empty)
        builder(Seq.fill(99)(
          org.apache.spark.sql.catalyst.expressions.Literal(1)))
      }
      assert(e.getMessage.contains(ident.funcName),
        s"${ident.funcName}: arity error must name the function, " +
          s"got: ${e.getMessage}")
      assert(e.getMessage.contains("argument"),
        s"${ident.funcName}: arity error must state the expectation, " +
          s"got: ${e.getMessage}")
    }
  }

  test("aggregate constructor params reject non-literal arguments by name") {
    // graft_topk's k must be a literal (it configures the Aggregator at
    // resolution time) — a column reference there must fail with the
    // parameter's name, not a MatchError
    val entry = GraftExtensions.entries
      .find(_._1.funcName == "graft_topk").get._3
    val colRef = org.apache.spark.sql.catalyst.analysis
      .UnresolvedAttribute("some_col")
    val lit1 = org.apache.spark.sql.catalyst.expressions.Literal(1)
    val e = intercept[IllegalArgumentException] {
      entry(Seq(lit1, lit1, colRef))
    }
    assert(e.getMessage.contains("graft_topk"), e.getMessage)
  }

  test("wrong-arity SQL call surfaces the builder's message to the user") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_simhash()").collect()
    }
    // Spark may wrap it (AnalysisException) — the user-visible text
    // must still carry the name and the arity expectation
    assert(e.getMessage.contains("graft_simhash"), e.getMessage)
  }
}
