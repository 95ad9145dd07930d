package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's own contracts: the retime valve (`Bench.shouldRetime`), the
  * `warm_hoisted` pricing ledger, and the drift stamp on the artifact's
  * total line. The artifact's line format and file are pinned in
  * ArtifactContractSpec.
  */
class BenchSpec extends AnyFunSuite {

  test("retime valve: descheduled signature fires, honest compute never does") {
    import Bench.shouldRetime
    // Descheduled: 13 s wall on 32 cpu-seconds (cpu/32 = 1 s of honest
    // parallel compute) at 3.25x its 4 s prior — the r13 class the 10x
    // valve waved through. Must retime.
    assert(shouldRetime(wall = 13, cpu = 32, prior = Some(4.0), cores = 32))
    // Honest heavy compute: 20 s wall backed by 600 cpu-seconds
    // (cpu/32 = 18.75). 5x drift or not, rerunning honest work just
    // measures it twice. Must NOT retime.
    assert(!shouldRetime(wall = 20, cpu = 600, prior = Some(4.0), cores = 32))
    // The original 10x rule still fires even when cpu-matched.
    assert(shouldRetime(wall = 50, cpu = 1600, prior = Some(4.0), cores = 32))
    // No prior: only the 30 s absolute backstop.
    assert(!shouldRetime(wall = 20, cpu = 1, prior = None, cores = 32))
    assert(shouldRetime(wall = 31, cpu = 1, prior = None, cores = 32))
    // Sub-second keys never churn on scheduler noise (2 s floor).
    assert(!shouldRetime(wall = 1.5, cpu = 0.5, prior = Some(0.1), cores = 32))
  }

  test("Bench.shouldRetime judges the counted window (cpu at tc)") {
    // Descheduled signature: wall 9 s ≫ prior 2 s AND ≫ cpu/cores with
    // counted-window cpu 8 s on 32 cores (0.25 s parallel prediction).
    assert(Bench.shouldRetime(9.0, 8.0, Some(2.0), 32))
    // The same key measured with the WHOLE-attempt cpu (counted 9 s of
    // wall but 290 s of cpu because the untimed full-output re-run did
    // real work) must still retime when the counted-window cpu is used;
    // with the inflated window it would not: 9 < 3·(290/32).
    assert(!Bench.shouldRetime(9.0, 290.0, Some(2.0), 32),
      "inflated cpu window suppresses the valve — this is WHY the " +
        "counted-window snapshot exists")
  }

  test("the r16 jitBreadthWarmup pricing change stays in the " +
    "warm_hoisted ledger (cross-round totals are uninterpretable " +
    "without it)") {
    assert(Bench.warmHoisted.toMap.get("*").exists(_.startsWith("r16:")),
      "the '*' registry-wide pricing entry must survive — removing it " +
        "makes the r15->r16 ~20% total drop read as a code speedup")
  }

  test("bench artifact total line carries the r16 drift stamp " +
    "(calibration start, end, ratio) and stays scalars-only") {
    val keys = SparkEntry.queries.keys.toSeq.sorted.take(3)
    val results = keys.zipWithIndex.map { case (k, i) =>
      Bench.KeyRes(k, 0.1, 0.15, 0.3, 10L + i, i, None)
    }
    val lines = Bench.artifactLines(results, keys.map((_, "ok")),
      calibration = 0.2, sfDir = "/tmp/x", diverted = Seq.empty,
      calibrationEnd = 0.25)
    val last = lines.last
    assert(last.contains("\"calibration_sec\":0.200"), last)
    assert(last.contains("\"calibration_end_sec\":0.250"), last)
    assert(last.contains("\"calibration_drift\":1.250"), last)
    // spec-default path: no end probe modeled => zero drift, not garbage
    val dflt = Bench.artifactLines(results, keys.map((_, "ok")),
      calibration = 0.2, sfDir = "/tmp/x", diverted = Seq.empty).last
    assert(dflt.contains("\"calibration_drift\":1.000"), dflt)
  }
}
