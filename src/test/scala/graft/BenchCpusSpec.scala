package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench` writes SPARK_GRAFT_CPUS into its JSON and its output
  * file name, so only a positive integer is accepted. */
class BenchCpusSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: a positive integer or the default 4; anything else refuses") {
    assert(Bench.cpusFrom(None) == 4)
    assert(Bench.cpusFrom(Some("8")) == 8)
    assert(Bench.cpusFrom(Some("32")) == 32)
    Seq("", "0", "-2", "+4", "4 ", "four", "8/../x", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](Bench.cpusFrom(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
