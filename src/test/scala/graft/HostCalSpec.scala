package graft

import org.scalatest.funsuite.AnyFunSuite

/** The calibration is only a calibration if the workload never moves:
  * benchgate divides thresholds by the ratio of two hostcal_ms
  * samples, so a silently edited loop (different iteration count,
  * different fold) would re-zero every cross-round comparison while
  * still "working". The checksum is the tripwire; this spec pins it
  * and the measurement contract.
  */
class HostCalSpec extends AnyFunSuite {
  test("workload checksum is pinned at the measurement size") {
    assert(HostCal.workload(HostCal.measureN) == HostCal.expected)
  }

  test("workload is a pure function of n") {
    assert(HostCal.workload(1000L) == HostCal.workload(1000L))
    assert(HostCal.workload(1000L) != HostCal.workload(1001L))
  }

  test("hostcalMs measures a plausible wall time") {
    val ms = HostCal.hostcalMs()
    // 64M hash folds: > 10 ms on any real machine, < 60 s even on a
    // hopelessly contended one — the point is "did it time the loop",
    // not the value
    assert(ms > 10.0 && ms < 60000.0, s"hostcal_ms = $ms")
  }

  test("parallel-leg checksum is pinned (parTasks copies of the fold)") {
    // the Spark job asserts the summed result equals parExpected; this
    // pin keeps the CONSTANT itself honest against the scalar workload,
    // so neither the fold nor the task count can drift independently
    assert(HostCal.parTasks * HostCal.workload(HostCal.parTaskN)
      == HostCal.parExpected)
  }

  test("preflight threshold is 250 ms per task wave of the 32-task leg") {
    // ceil(32 / cores) waves: 11 at 3 cores, 8 at 4, 4 at 8, 1 at 32;
    // more cores than tasks still run one wave
    assert(Seq(3, 4, 8, 32, 64).map(HostCal.preflightMaxMs) ==
      Seq(2750.0, 2000.0, 1000.0, 250.0, 250.0))
  }
}

/** Spark-session half of the parallel-leg pin: the leg must actually
  * run as a 32-task stage and return a plausible wall time. Separate
  * suite so the scalar pins stay Spark-free.
  */
class HostCalParSpec extends SparkTestBase {
  test("hostcalParMs runs the checksum-pinned 32-task leg") {
    val ms = HostCal.hostcalParMs(spark)
    // 32 × 16M folds on a >=4-thread local session: well over 10 ms,
    // far under a minute even hopelessly contended
    assert(ms > 10.0 && ms < 60000.0, s"hostcal_par_ms = $ms")
  }
}
