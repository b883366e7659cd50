package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a failed query counts in neither frozen ratio") {
    // "a" failed in 0.05 s against a 3 s frozen entry: kept, it would
    // read as a 60x speedup and pull the total down.
    val results = Seq("a" -> 0.05, "b" -> 2.0, "new" -> 1.0)
    val frozen = Map("a" -> 3.0, "b" -> 1.0)
    val (vs, total) = Bench.frozenRatios(results, Set("a"), frozen)
    assert(vs == Seq("b" -> 2.0))
    assert(total == 2.0)
    assert(Bench.frozenRatios(results, Set.empty, frozen)._2 == 2.05 / 4.0)
    assert(Bench.frozenRatios(results, _ => true, frozen) == (Seq.empty, 0.0))
  }
}
