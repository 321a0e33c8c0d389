package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ScaleGate._

/** The scale gate's judge is a pure function of two runs' measurements:
  * each envelope kind passes and fails on the numbers alone. */
class ScaleGateSpec extends AnyFunSuite {

  private val rows = Map("events" -> 1000L, "orders" -> 500L)
  private def run(legs: (String, Leg)*) = Run(legs.toMap, rows)
  private def big(legs: (String, Leg)*) = Run(legs.toMap, rows.map { case (k, n) => k -> n * 10 })
  private def holds(e: Envelope, s: Run, b: Run): Boolean = judge(e, s, b)._1

  test("Flat bounds the time ratio, with an absolute floor") {
    assert(holds(Flat("d"), run("d" -> Leg(2.0)), big("d" -> Leg(3.8))))
    assert(!holds(Flat("d"), run("d" -> Leg(2.0)), big("d" -> Leg(4.4))))
    assert(!holds(Flat("d", bound = 1.5), run("d" -> Leg(2.0)), big("d" -> Leg(3.8))))
    // 0.01 s -> 0.5 s is 50x, but under the 1 s floor: jitter, not growth
    assert(holds(Flat("d"), run("d" -> Leg(0.01)), big("d" -> Leg(0.5))))
    assert(!holds(Flat("d", floor = 0.1), run("d" -> Leg(0.01)), big("d" -> Leg(0.5))))
  }

  test("Exponent reads the rows ratio of the leg's table; ratio 1 is undefined") {
    // 10x rows: 11x time is exponent 1.04, 20x time is 1.30
    assert(holds(Exponent("q", "events"), run("q" -> Leg(1.0)), big("q" -> Leg(11.0))))
    assert(!holds(Exponent("q", "events"), run("q" -> Leg(1.0)), big("q" -> Leg(20.0))))
    val same = Run(Map("q" -> Leg(2.0)), rows)
    val (ok, why) = judge(Exponent("q", "events"), run("q" -> Leg(1.0)), same)
    assert(!ok && why.contains("undefined"))
    assert(!holds(Exponent("q", "documents"), run("q" -> Leg(1.0)), big("q" -> Leg(1.0))))
  }

  test("ManifestOp wants exactly one version with the op at both scales") {
    val e = ManifestOp("r", "append")
    assert(holds(e, run("r" -> Leg(1, op = "append")), big("r" -> Leg(1, op = "append"))))
    assert(!holds(e, run("r" -> Leg(1, op = "append")), big("r" -> Leg(1, op = "upsert"))))
    assert(!holds(e, run("r" -> Leg(1, op = "append")), big("r" -> Leg(1, op = "append+append"))))
  }

  test("Serves wants the view read at both scales") {
    assert(holds(Serves("s"), run("s" -> Leg(1, served = true)), big("s" -> Leg(1, served = true))))
    assert(!holds(Serves("s"), run("s" -> Leg(1, served = true)), big("s" -> Leg(1))))
  }

  test("SelectedFiles bounds the selected share of posting files") {
    val e = SelectedFiles("b", 0.5)
    assert(holds(e, run("b" -> Leg(1, files = (1, 8))), big("b" -> Leg(1, files = (2, 8)))))
    assert(!holds(e, run("b" -> Leg(1, files = (1, 8))), big("b" -> Leg(1, files = (6, 8)))))
    assert(!holds(e, run("b" -> Leg(1, files = (0, 0))), big("b" -> Leg(1, files = (0, 0)))))
  }

  test("ShuffleRatio bounds leg over base bytes at both scales") {
    val e = ShuffleRatio("sketch", "exact", 0.1)
    def at(sk: Long, ex: Long) = Seq("sketch" -> Leg(1, shuffle = sk), "exact" -> Leg(1, shuffle = ex))
    assert(holds(e, run(at(5, 100): _*), big(at(8, 1000): _*)))
    assert(!holds(e, run(at(5, 100): _*), big(at(300, 1000): _*)))
    assert(!holds(e, run(at(5, 0): _*), big(at(8, 1000): _*)))
  }

  test("PlanHas looks for a mark in PushedFilters only") {
    val e = PlanHas("p", Seq("In("))
    val pushed = Leg(1, plan = "Scan parquet\nPushedFilters: [IsNotNull(k), In(k, [1,2])]")
    val filtered = Leg(1, plan = "Filter In(k, [1,2])\nPushedFilters: [IsNotNull(k)]")
    assert(holds(e, run("p" -> pushed), big("p" -> pushed)))
    assert(!holds(e, run("p" -> pushed), big("p" -> filtered)))
  }

  test("a leg measured at one scale only fails") {
    assert(!holds(Flat("d"), run("d" -> Leg(1.0)), big()))
  }
}
