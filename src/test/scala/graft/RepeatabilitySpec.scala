package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** In-suite determinism audit (VERDICT r9 task 4): re-run a rotating
  * sample of registry keys twice in the same session and require
  * bit-identical results. The out-of-band tool
  * (tools/repeatability_check.py) certifies ALL keys across two JVMs at
  * round end; this spec catches nondeterminism at COMMIT time on a
  * 20-key slice that stays under the suite's time budget.
  *
  * Rotation rule (documented contract): keys sort alphabetically; the
  * UTC day-of-epoch times 20 picks the window start, so consecutive
  * days cover disjoint 20-key windows and the whole registry rotates
  * through in ~12 days. Excluded from rotation — covered only by the
  * round-end two-JVM tool — are the streaming family (stream_*,
  * window_*: multi-second MicroBatchExecution fixed costs would blow
  * the budget) and the iterative graph/cluster keys (graph_*,
  * dedup_fuzzy_cluster, dedup_connected_components, ml_kmeans).
  *
  * Failure reproducibility (VERDICT r10 task 7): the day-seeded window
  * means a red run today would rotate to a different sample tomorrow,
  * so `GRAFT_REPEAT_START=<n>` pins the window start index into the
  * sorted eligible list (`GRAFT_REPEAT_START=137 sbt -batch "testOnly
  * graft.RepeatabilitySpec"` re-runs exactly the window that failed —
  * the test's info line and its assertion message print the window's
  * start and [first..last] keys, and the assertion message carries the
  * first differing digest-input JSON lines, so the repro recipe is: pin
  * the start, read the diff). The window stays out of the test name so
  * the test keeps one name from day to day.
  */
class RepeatabilitySpec extends AnyFunSuite with SparkFixture {

  private val excluded: String => Boolean = k =>
    k.startsWith("stream_") || k.startsWith("window_") ||
      k.startsWith("graph_") ||
      Set("dedup_fuzzy_cluster", "dedup_connected_components",
        "ml_kmeans").contains(k)

  private val eligible = SparkEntry.queries.keys.toSeq.filterNot(excluded).sorted

  private val windowStart: Int =
    (sys.env.get("GRAFT_REPEAT_START").map(_.toInt).getOrElse {
      val day = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toEpochDay
      ((day * 20) % eligible.size).toInt
    } % eligible.size + eligible.size) % eligible.size

  private val sample: Seq[String] =
    (0 until 20).map(i => eligible((windowStart + i) % eligible.size))

  /** Canonical digest + its input lines: sorted toJSON lines md5'd. JSON
    * rendering is a deterministic function of row VALUES (map/array
    * order included), so two runs of a deterministic plan digest
    * identically; sorting makes the digest order-free for the few keys
    * without a total ORDER BY. The lines come back too so a mismatch can
    * report WHAT differed, not just that something did.
    */
  private def digest(key: String): (String, Seq[String]) = {
    val lines = SparkEntry.queries(key)(spark, sf0001).toJSON.collect().sorted
    val md = MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update(l.getBytes("UTF-8")))
    (md.digest().map("%02x".format(_)).mkString, lines.toSeq)
  }

  private val window: String =
    s"start=$windowStart [${sample.head}..${sample.last}]" +
      (if (sys.env.contains("GRAFT_REPEAT_START")) " (pinned)" else "")

  test("20-key rotation window is bit-identical across two runs") {
    info(s"window $window")
    val bad = sample.flatMap { k =>
      val (a, la) = digest(k)
      val (b, lb) = digest(k)
      if (a == b) None
      else {
        val firstDiff = la.zipAll(lb, "<missing>", "<missing>")
          .find { case (x, y) => x != y }
          .map { case (x, y) => s"  run1: $x\n  run2: $y" }
          .getOrElse("  (same lines, different count)")
        Some(s"$k: $a != $b — first differing digest input:\n$firstDiff")
      }
    }
    assert(bad.isEmpty,
      s"nondeterministic keys in window $window:\n${bad.mkString("\n")}")
  }
}
