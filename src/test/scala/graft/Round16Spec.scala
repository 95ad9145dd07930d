package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 regression pins for the r15 ADVICE findings: the
  * agg_markov_stationary oracle actually replayed on the source-only
  * fixture (not just the engine side), the q-digest Long-safe wire size,
  * the portable-qdigest oracle clamp, and the bench drift stamp (the
  * session-entry purge is pinned in WarmSpec).
  */
class Round16Spec extends AnyFunSuite with SparkFixture {

  test("agg_markov_stationary: the DuckDB oracle, run on the source-only " +
    "fixture, matches the engine (ADVICE r15 — the r15 pin only ran the " +
    "Spark side)") {
    // The replay shells out to the driver-side oracle stack; on a box
    // without python3+duckdb this test is not runnable — cancel, don't
    // fail (ADVICE r16).
    val duckdbAvailable =
      try {
        val probe = new ProcessBuilder("python3", "-c", "import duckdb")
          .redirectErrorStream(true).start()
        probe.waitFor() == 0
      } catch { case _: java.io.IOException => false }
    assume(duckdbAvailable, "python3 + duckdb not available on this box")
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    // Same divergent fixture as Round15Spec: state 's' appears ONLY as a
    // transition source. The r14 oracle bug dropped its row; the r15 fix
    // LEFT-JOINs the full state set. This test closes the other half:
    // it executes the fixed oracle SQL in DuckDB on this exact fixture
    // via tools/oracle_check.py (the driver's compare replica), so a
    // future oracle regression on source-only states fails sbt test.
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-05 10:00:00"), 1L, "s", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-05 10:01:00"), 1L, "a", 1.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-05 10:02:00"), 1L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = graft.Scratch.fresh("markov_oracle_replay_fixture")
    // oracle_check reads {sfdir}/events.parquet as a SINGLE file (the
    // testdata layout); Spark writes a directory — write then promote
    // the lone part file.
    val tmp = s"$dir/_ev"
    ev.coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = scala.util.Using.resource(Files.list(Paths.get(tmp))) { st =>
      val part = st.iterator()
      var found: java.nio.file.Path = null
      while (part.hasNext) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) found = p
      }
      found
    }
    assert(src != null, "no part file written")
    Files.move(src, Paths.get(s"$dir/events.parquet"))
    // oracle_check eagerly CREATE VIEWs every table: satisfy the other
    // nine with symlinks to sf0.001 (the markov oracle reads only events)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Files.createSymbolicLink(Paths.get(s"$dir/$t.parquet"),
        Paths.get(s"$sf0001/$t.parquet"))
    }

    val outDir = graft.Scratch.fresh("markov_oracle_replay_out")
    SparkEntry.queries("agg_markov_stationary")(sp, dir)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/agg_markov_stationary")
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      s"{${q("agg_markov_stationary")}: ${q(
        SparkEntry.oracleSql("agg_markov_stationary"))}}")

    val pb = new ProcessBuilder("python3", "tools/oracle_check.py",
      dir, outDir, "agg_markov_stationary")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 0,
      s"oracle replay on the source-only fixture diverged:\n$out")
    assert(out.contains("ok   agg_markov_stationary (2 rows)"), out)
  }

  test("QDigestBuf.wireSize: Long-safe, fails loud past Int.MaxValue " +
    "instead of a NegativeArraySizeException at shuffle time") {
    assert(graft.functions.QDigestBuf.wireSize(0) == 12)
    assert(graft.functions.QDigestBuf.wireSize(1000) == 12 + 16 * 1000)
    // 16 * 200M = 3.2e9 > Int.MaxValue: the pre-fix Int expression
    // wrapped negative here and ByteBuffer.allocate threw the opaque
    // NegativeArraySizeException.
    val e = intercept[IllegalArgumentException] {
      graft.functions.QDigestBuf.wireSize(200 * 1000 * 1000)
    }
    assert(e.getMessage.contains("too large to serialize"), e.getMessage)
  }

  test("udaf_qdigest_portable oracle mirrors the engine's universe clamp " +
    "(least/greatest on the cents leaf)") {
    val sql = SparkEntry.oracleSql("udaf_qdigest_portable")
    // QDigestOfflineNodes.update clamps to [0, 2^24); without the mirror
    // any cents >= 2^24 silently diverges engine vs oracle (ADVICE r15).
    assert(sql.contains("least(greatest("), "clamp missing from oracle")
    assert(sql.contains(((1L << 24) - 1).toString),
      "clamp upper bound must be 2^24 - 1")
  }

  test("single-rounding rule: re-rounding a 6-quantized double at scale " +
    "4 is engine-ambiguous (the sf0.1 attestation find)") {
    import org.apache.spark.sql.functions.{lit, round => sqlRound}
    // The double nearest 0.388350 prints as "0.38835": Spark's round
    // (BigDecimal HALF_UP on the shortest decimal repr) goes UP...
    val d = spark.range(1).select(sqlRound(lit(0.388350), 4))
      .first().getDouble(0)
    assert(d == 0.3884, s"Spark rounds the half boundary up, got $d")
    // ...while a binary-value rounder (DuckDB) sees 0.38834999999999997
    // and goes down. One quantized value, two legitimate answers —
    // which is why contamination_embedding's max_cos now rounds the
    // RAW cosine exactly once on both sides.
    assert(math.rint(0.388350 * 1e4) / 1e4 == 0.3883)
    val sql = SparkEntry.oracleSql("contamination_embedding")
    assert(sql.contains("round(max(cosr), 4)"),
      "oracle must single-round the raw cosine")
  }

  test("udaf_kmv_intersect oracle replays the splitmix64 sketch (both " +
    "regimes), not just the complete-sketch exact count") {
    val sql = SparkEntry.oracleSql("udaf_kmv_intersect")
    // the wrapping-multiply constants of the splitmix64 finalizer and
    // the 2^53 KmvRange — present iff the oracle replays the sketch
    assert(sql.contains("13787848793156543929"), "stage-1 multiplier")
    assert(sql.contains("10723151780598845931"), "stage-2 multiplier")
    assert(sql.contains("9007199254740992"), "KmvRange 2^53")
    assert(!sql.contains("TRUE AS exact_mode"),
      "exact_mode must be computed, not hardcoded — the truncated " +
        "regime (sf0.1+) is certified now")
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
