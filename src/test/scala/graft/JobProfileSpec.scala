package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.JobProfile` reports the driver gap as the query wall time minus
  * the time at least one Spark job was running: overlapping jobs count
  * once, so the gap cannot go negative. */
class JobProfileSpec extends AnyFunSuite {

  test("busy time is the union of the job intervals, not their sum") {
    assert(JobProfile.busySeconds(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    // order-free, nested and touching intervals
    assert(JobProfile.busySeconds(Seq((5.0, 6.0), (0.0, 4.0), (1.0, 2.0))) == 5.0)
    assert(JobProfile.busySeconds(Seq((0.0, 1.0), (1.0, 2.0))) == 2.0)
    assert(JobProfile.busySeconds(Nil) == 0.0)
  }
}
