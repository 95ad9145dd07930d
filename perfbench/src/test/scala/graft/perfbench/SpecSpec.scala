package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpecSpec extends AnyFunSuite {

  private val spec = Spec.parse("""{
    "workloads": {
      "a": {"warm": ["layout"], "keys": ["k1"], "unsampled": ["k2"]},
      "b": {"warm": [], "keys": ["k3"], "unsampled": []}},
    "excluded": {"k4": "reason"}}""")

  test("coverage holds when every key is listed exactly once") {
    assert(spec.coverageProblems(Set("k1", "k2", "k3", "k4")).isEmpty)
  }

  test("coverage fails when the registry gains or loses a key") {
    assert(spec.coverageProblems(Set("k1", "k2", "k3", "k4", "k5")) ==
      Seq("registry key in no workload: k5"))
    assert(spec.coverageProblems(Set("k1", "k2", "k3")) ==
      Seq("listed key not in the registry: k4"))
  }

  test("a key listed twice is a problem") {
    val dup = spec.copy(excluded = spec.excluded + ("k1" -> "again"))
    assert(dup.coverageProblems(Set("k1", "k2", "k3", "k4")) ==
      Seq("listed more than once: k1"))
  }

  test("a workload may borrow only another workload's key") {
    val ok = spec.copy(workloads = spec.workloads +
      ("b" -> spec.workloads("b").copy(borrowed = Seq("k2"))))
    assert(ok.coverageProblems(Set("k1", "k2", "k3", "k4")).isEmpty)
    assert(ok.workloads("b").measured == Seq("k3", "k2"))
    val own = spec.copy(workloads = spec.workloads +
      ("b" -> spec.workloads("b").copy(borrowed = Seq("k3", "k9"))))
    assert(own.coverageProblems(Set("k1", "k2", "k3", "k4")) == Seq(
      "b borrows a key of no other workload: k3",
      "b borrows a key of no other workload: k9"))
  }

  test("the pinned workloads cover the registry") {
    val pinned = Spec.load("workloads.json")
    assert(pinned.coverageProblems(graft.SparkEntry.queries.keySet).isEmpty)
  }
}
