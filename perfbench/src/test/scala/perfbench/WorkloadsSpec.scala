package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {

  private val seeds = 0L until 200L

  test("every pass is a permutation of the workload's entries") {
    for (w <- Workloads.all; seed <- seeds.take(20)) {
      Workloads.passes(w, seed).take(3).foreach { order =>
        assert(order.sorted == w.entries.sorted, s"${w.name} seed $seed")
      }
    }
  }

  test("the same seed gives the same passes, other seeds other passes") {
    for (w <- Workloads.all) {
      assert(Workloads.passes(w, 7).take(4).toList == Workloads.passes(w, 7).take(4).toList)
      val firsts = seeds.map(s => Workloads.passes(w, s).next()).toSet
      assert(firsts.size > seeds.size / 2, w.name)
    }
  }

  test("workload entries are distinct and known to the library") {
    for (w <- Workloads.all) {
      assert(w.entries.distinct == w.entries, w.name)
      assert(w.entries.forall(graft.SparkEntry.queries.contains), w.name)
    }
  }
}
