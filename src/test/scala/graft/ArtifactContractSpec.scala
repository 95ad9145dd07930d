package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Bench stdout artifact format against the driver's consumption
  * shape (2000-char tail, json.loads of the last line) WITHOUT running a
  * bench: Bench.artifactLines formats synthetic results, and
  * tools/artifact_check.py — the executable statement of the contract —
  * validates them. A format drift (the r10 seconds-map and r11
  * headline-total truncation classes) now fails `sbt test` instead of
  * blinding a future round's verdict. The negative case proves the
  * checker actually discriminates.
  */
class ArtifactContractSpec extends AnyFunSuite with SparkFixture {

  /** Synthetic per-key results shaped like a real run: one normal key per
    * registry entry (reusing the REAL key names so suspect-zero logic sees
    * real oracle membership), plus one crashed key (rows = -1).
    */
  private def syntheticLines(breakOne: Boolean,
      warmupFailed: Seq[String] = Seq.empty): Seq[String] = {
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val results = keys.zipWithIndex.map { case (k, i) =>
      Bench.KeyRes(k,
        countedSec = 0.1 + (i % 7) * 0.01,
        fullSec = 0.15 + (i % 7) * 0.01,
        cpuSec = 0.3 + (i % 5) * 0.01,
        rows = if (breakOne && i == 3) -1L else 10L + i,
        order = i,
        firstAttempt = if (i == 5) Some(9.87) else None)
    }
    val plans = keys.map(k => (k, "ok"))
    Bench.artifactLines(results, plans, calibration = 0.2,
      sfDir = "/root/testdata/sf0.1", diverted = Seq.empty,
      // model a drift-bearing sweep so the contract check sees the r16
      // calibration_end_sec / calibration_drift scalars on the last line
      calibrationEnd = 0.24, warmupFailed = warmupFailed)
  }

  private def runChecker(lines: Seq[String]): (Int, String) = {
    val f = Files.createTempFile("bench_stdout", ".txt")
    Files.writeString(f, lines.mkString("", "\n", "\n"))
    val pb = new ProcessBuilder("python3", "tools/artifact_check.py",
      f.toString)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    val rc = p.waitFor()
    Files.deleteIfExists(f)
    (rc, out)
  }

  test("the emitted artifact lines satisfy the driver-tail contract") {
    val (rc, out) = runChecker(syntheticLines(breakOne = false))
    assert(rc == 0, s"checker rejected a well-formed artifact:\n$out")
    assert(out.contains("artifact contract OK"), out)
  }

  test("a crashed key still yields a contract-conforming artifact " +
    "(errors listed, excluded from total_ok)") {
    val lines = syntheticLines(breakOne = true)
    val (rc, out) = runChecker(lines)
    assert(rc == 0, s"checker rejected the crashed-key artifact:\n$out")
    // the crashed key appears in the ROWS line's errors array; the final
    // line carries only the COUNT (unbounded arrays there are the
    // truncation class the contract exists to prevent)
    val rowsLine = lines.find(_.contains("\"metric\":\"rows\"")).get
    assert(rowsLine.contains("\"errors\":[\""), rowsLine)
    assert(lines.last.contains("\"n_errors\":1"), lines.last)
  }

  test("a deliberately mangled artifact fails the check (truncation class)") {
    // Reproduce the r11 failure mode: fold a map INTO the final line.
    // The splice must stay VALID standalone JSON and keep all four
    // lines, or the checker rejects it for an unrelated reason (line
    // count / parse error) and the map-bearing rule — the actual r11
    // truncation guard — never executes.
    val good = syntheticLines(breakOne = false)
    val mangledLast =
      good.last.dropRight(1) + ",\"queries\":{\"agg_group\":0.1}}"
    assert(mangledLast.contains("\"metric\":\"total\""))
    val mangled = good.dropRight(1) :+ mangledLast
    assert(mangled.size == good.size)
    val (rc, out) = runChecker(mangled)
    assert(rc != 0, "checker must reject a map-bearing final line")
    assert(out.contains("must not embed any map"), out)
  }

  test("an error-ARRAY-bearing final line fails the check (mass-failure " +
    "truncation class)") {
    // The r12 second review's finding: an unbounded errors array on the
    // final line recreates the truncation class under mass failure.
    val good = syntheticLines(breakOne = false)
    val mangledLast =
      good.last.dropRight(1) + ",\"errors\":[\"a\",\"b\"]}"
    val mangled = good.dropRight(1) :+ mangledLast
    val (rc, out) = runChecker(mangled)
    assert(rc != 0, "checker must reject an array-bearing final line")
    assert(out.contains("must not embed any map/array"), out)
  }

  test("a reordered artifact (total not last) fails the check") {
    val good = syntheticLines(breakOne = false)
    val (rc, _) = runChecker(Seq(good(0), good(3), good(1), good(2)))
    assert(rc != 0, "checker must reject total-not-last ordering")
  }

  test("the committed CORRECTNESS round artifacts satisfy the shape contract") {
    import scala.jdk.CollectionConverters._
    val arts = Files.list(Paths.get(".")).iterator().asScala
      .filter(_.getFileName.toString.matches("CORRECTNESS_r\\d+\\.json"))
      .toSeq.sortBy(_.getFileName.toString)
    assume(arts.nonEmpty, "no committed correctness artifacts")
    // the latest artifact is the binding one; older rounds predate fields
    val latest = arts.last
    val pb = new ProcessBuilder("python3", "tools/artifact_check.py",
      "--correctness", latest.toString)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 0, s"$latest violates the shape contract:\n$out")
    assert(out.contains("correctness artifact OK"), out)
  }

  test("the current round carries a DRIFT_rNN.json drift artifact of " +
    "valid shape (VERDICT r16 task 5: comparability is an artifact, " +
    "not a re-derivation)") {
    import scala.jdk.CollectionConverters._
    // Current round = latest committed CORRECTNESS round + 1 (the driver
    // commits CORRECTNESS_r{N} when round N closes, so a tree holding
    // r16 is round 17 in progress). The pin activates as soon as
    // CORRECTNESS_r<N-1>.json lands, not when the round's sweep runs: from
    // then on the test fails until tools/round_close_bench.py has written
    // DRIFT_r<N>.json, and a deleted or stale drift artifact fails it too.
    val rounds = Files.list(Paths.get(".")).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("CORRECTNESS_r\\d+\\.json") =>
        s.stripPrefix("CORRECTNESS_r").stripSuffix(".json").toInt }
      .toSeq
    assume(rounds.nonEmpty, "no committed correctness artifacts")
    val current = rounds.max + 1
    val drift = Paths.get(s"DRIFT_r$current.json")
    assert(Files.exists(drift),
      s"DRIFT_r$current.json missing — run tools/round_close_bench.py " +
        s"$current <prev-official.jsonl> (the round-close sweep command " +
        "emits it alongside BENCH_LOCAL_LAST.jsonl)")
    val txt = Files.readString(drift)
    for (field <- Seq("\"reference\"", "\"runs\"", "\"settled_sum_ratio\"",
        "\"settled_median_ratio\"", "\"decile_median_ratio\""))
      assert(txt.contains(field), s"DRIFT_r$current.json lacks $field")
  }

  test("round_close_bench.py refuses BENCH_LOCAL_LAST.jsonl as the " +
    "reference before any sweep starts") {
    // The sweep overwrites BENCH_LOCAL_LAST.jsonl, so that file as the
    // reference would be compared with itself (every ratio 1.0). PATH
    // holds python3 but no sbt, so a tool without the refusal cannot
    // start a sweep either: it crashes instead, without naming the file.
    val last = Paths.get("BENCH_LOCAL_LAST.jsonl")
    assume(Files.exists(last), "no local bench artifact yet — run graft.Bench")
    val before = Files.readAllBytes(last)
    val which = new ProcessBuilder("python3", "-c",
      "import sys; print(sys.executable)").start()
    val python = new String(which.getInputStream.readAllBytes()).trim
    assert(which.waitFor() == 0 && python.nonEmpty, "python3 not found")
    val bin = Files.createTempDirectory("round_close_path")
    val py3 = Files.createSymbolicLink(bin.resolve("python3"), Paths.get(python))
    val pb = new ProcessBuilder(py3.toString, "tools/round_close_bench.py",
      "19", "BENCH_LOCAL_LAST.jsonl")
    pb.environment().put("PATH", bin.toString)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    val rc = p.waitFor()
    Files.delete(py3)
    Files.delete(bin)
    assert(rc != 0, s"the tool accepted the file it overwrites:\n$out")
    assert(out.contains("BENCH_LOCAL_LAST.jsonl"), out)
    assert(!out.contains("full bench sweep"), out)
    assert(java.util.Arrays.equals(before, Files.readAllBytes(last)),
      "BENCH_LOCAL_LAST.jsonl changed")
  }

  test("BENCH_LOCAL_LAST.jsonl written by the last real bench run (if any) " +
    "also satisfies the contract") {
    // .jsonl since r15: the file is one JSON object per line (ADVICE r14
    // — the old .json extension broke json.load with "Extra data").
    val f = Paths.get("BENCH_LOCAL_LAST.jsonl")
    assume(Files.exists(f), "no local bench artifact yet — run graft.Bench")
    val (rc, out) = runChecker(
      Files.readString(f).split("\n").toSeq)
    assert(rc == 0, s"persisted bench artifact violates the contract:\n$out")
  }

  test("Bench.warmup's steps fail one at a time: each failure is named, " +
    "later steps still run") {
    var ran = Seq.empty[String]
    def ok(n: String): (String, () => Any) = n -> (() => { ran :+= n })
    def bad(n: String): (String, () => Any) =
      n -> (() => throw new IllegalStateException(n))
    val failed = Bench.runSteps(Seq(ok("a"), bad("b"), ok("c"), bad("d"), ok("e")))
    assert(failed == Seq("b", "d"))
    assert(ran == Seq("a", "c", "e"))
  }

  test("failed warmup steps are listed on the rows line as warmup_failed, " +
    "never on the scalars-only last line") {
    val lines = syntheticLines(breakOne = false,
      warmupFailed = Seq("dedup_index", "jit:agg_group"))
    val rowsLine = lines.find(_.contains("\"metric\":\"rows\"")).get
    assert(rowsLine.contains(
      "\"warmup_failed\":[\"dedup_index\",\"jit:agg_group\"]"), rowsLine)
    assert(!lines.last.contains("warmup_failed"), lines.last)
    val (rc, out) = runChecker(lines)
    assert(rc == 0, s"checker rejected a warmup_failed artifact:\n$out")
    val clean = syntheticLines(breakOne = false)
    assert(clean.exists(_.contains("\"warmup_failed\":[]")))
    val mangled = lines.map(_.replace(
      "\"warmup_failed\":[\"dedup_index\",\"jit:agg_group\"]",
      "\"warmup_failed\":\"dedup_index\""))
    val (rc2, out2) = runChecker(mangled)
    assert(rc2 != 0, "checker must reject a non-list warmup_failed")
    assert(out2.contains("warmup_failed"), out2)
  }

  private def probeLines(mode: (String => Unit) => Unit): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    mode(buf += _)
    buf.toSeq
  }

  test("Probe plan prints the job lines and the FINAL adaptive plan") {
    val out = probeLines(Probe.plan(spark, Seq("sort_global"), sf0001, _))
    assert(out.head.startsWith("=== plan sort_global rows="), out.head)
    assert(out.exists(_.startsWith("job ")), out.mkString("\n"))
    // after toRdd.count the frame's own executedPlan is the final one;
    // after df.count() it would still read isFinalPlan=false
    assert(out.exists(_.contains("isFinalPlan=true")), out.mkString("\n"))
  }

  test("Probe census prints one line per key with its jobs, stages and " +
    "plan class") {
    val out = probeLines(Probe.census(spark, Seq("agg_group"), sf0001, _))
    assert(out.size == 1, out)
    val m = """census agg_group jobs=(\d+) stages=(\d+) plan=e\d+.*""".r
    out.head match {
      case m(jobs, _) => assert(jobs.toInt >= 1, out.head)
      case other => fail(s"unexpected census line: $other")
    }
  }

  test("Probe fails on an unknown key before any job runs, naming it") {
    val modes: Seq[(String, Seq[String] => Unit)] = Seq(
      "plan" -> (ks => Probe.plan(spark, ks, sf0001, _ => ())),
      "census" -> (ks => Probe.census(spark, ks, sf0001, _ => ())),
      "time" -> (ks => Probe.time(spark, ks, sf0001, 1, _ => ())))
    modes.foreach { case (mode, run) =>
      val (e, jobs, _) = Probe.schedulerWork(spark) {
        intercept[IllegalArgumentException](
          run(Seq("agg_group", "no_such_key")))
      }
      assert(e.getMessage.contains("no_such_key"), s"$mode: ${e.getMessage}")
      assert(jobs == 0, s"$mode ran $jobs jobs before rejecting the key")
    }
  }

  test("Bench.planClass counts the final plan's exchanges once: a " +
    "one-shuffle aggregate reads e1 before and after execution") {
    import org.apache.spark.sql.functions.{col, sum}
    val f = spark.range(1000).toDF("id")
      .groupBy((col("id") % 7).as("k")).agg(sum("id").as("s"))
    assert(Bench.planClass(f.queryExecution.executedPlan) == "e1")
    f.queryExecution.toRdd.count()
    val executed = f.queryExecution.executedPlan
    assert(executed.toString.contains("Final Plan"), executed.toString)
    assert(Bench.planClass(executed) == "e1", executed.toString)
  }

  test("Bench.loadPriors: a missing file is no priors, an unreadable or " +
    "pair-less file throws") {
    val dir = Files.createTempDirectory("priors")
    try {
      assert(Bench.loadPriors(dir.resolve("absent.json")).isEmpty)
      val ok = Files.writeString(dir.resolve("ok.json"),
        "{\"agg_group\": 0.25, \"sort_global\":1.5}")
      assert(Bench.loadPriors(ok) ==
        Map("agg_group" -> 0.25, "sort_global" -> 1.5))
      val empty = Files.writeString(dir.resolve("empty.json"), "{}")
      intercept[IllegalArgumentException](Bench.loadPriors(empty))
      // a directory exists but cannot be read as a file
      intercept[java.io.IOException](Bench.loadPriors(dir))
    } finally {
      Files.list(dir).forEach(p => Files.delete(p)); Files.delete(dir)
    }
  }
}
