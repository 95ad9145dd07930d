package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Bench {

  /** Runs each named step on its own: a step that throws is named on
    * stderr and the remaining steps still run (stdout is left to the
    * caller's JSON lines). Returns the failed steps' names.
    */
  private[graft] def runSteps(steps: Seq[(String, () => Any)]): Seq[String] =
    steps.flatMap { case (name, body) =>
      try { body(); None }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup step $name failed: $e")
        Some(name)
      }
    }

  /** JIT + one-time layout warmup shared by Bench, KeyTime, and any other
    * timing tool: runs the flagship query once, then builds the amortized
    * layout artifacts (partitioned/bucketed copies, streaming slice cut,
    * ANN indexes, graph edge cache, dedup signature index, DSv2 topic) so
    * the first timed query measures the QUERY. Single source of truth —
    * a tool with its own copy of this list goes cold the next time a
    * warm cache is added. Every step runs through [[runSteps]].
    */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.{Dedup, DsV2, LayoutCache, Pipeline, Similarity, Streaming}
    runSteps(Seq(
      "entry" -> (() => SparkEntry.entry(spark).count()),
      "layout.partitioned" -> (() => LayoutCache.partitionedLineitem(spark, sfDir)),
      "layout.zordered" -> (() => LayoutCache.zorderedLineitem(spark, sfDir)),
      "layout.bucketed" -> (() => LayoutCache.bucketedTables(spark, sfDir)),
      "stream_inputs" -> (() => Streaming.prepareInputs(spark, sfDir)),
      "ann_index" -> (() => Similarity.warmIndexes(spark, sfDir)),
      "graph_cache" -> (() => Pipeline.warmGraph(spark, sfDir)),
      "dedup_index" -> (() => Dedup.warmDedup(spark, sfDir)),
      "dsv2_topic" -> (() => DsV2.topic(spark, sfDir))))
    // JIT/codegen breadth pass (r16): the reversed-order A/B proved the
    // first ~2 execution deciles of every fresh-JVM sweep pay a 1.3-1.7x
    // premium that follows POSITION, not key identity — C2 compilation
    // and codegen-class generation smeared over the first ~80 keys,
    // which the flagship+index warmup above cannot cover (408 keys
    // exercise far more plan shapes). Running every key once on the
    // TINIEST sibling fixture compiles those paths for cents: codegen
    // caches by expression tree, so the sf0.001 classes are the sf0.1
    // classes. Streaming keys are excluded (each runs a real
    // microbatch lifecycle — seconds of wall for little shared JIT,
    // and they execute late in the sweep anyway, past the ramp).
    val tiny = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
    if (java.nio.file.Files.isDirectory(tiny) && tiny.toString != sfDir)
      runSteps(SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot(_._1.startsWith("stream_"))
        .map { case (k, fn) =>
          s"jit:$k" -> (() => fn(spark, tiny.toString).queryExecution.toRdd.count())
        })
  }

  /** Cross-round comparability ledger (ADVICE r14): keys whose
    * build-once/query-many INDEX construction was hoisted out of the
    * timed key into [[warmup]], with the round that hoisted it — so a
    * reader diffing totals across rounds can see which deltas are
    * pricing changes rather than code speedups. Layout caches shared by
    * whole families (bucketed/partitioned copies, streaming slices, the
    * DSv2 topic) predate the ledger and are documented in BASELINE.md;
    * this lists the per-key index hoists.
    */
  private[graft] val warmHoisted: Seq[(String, String)] = Seq(
    "sim_ann_graph" -> "r14:knnGraph",
    "graph_pagerank" -> "r14:pagerankPreparedEdges",
    "sim_ann_nndescent" -> "r15:nndescentKnn",
    "sim_ann_recall_nndescent" -> "r15:nndescentKnn",
    // r16: EVERY key's JIT/codegen now warms via the sf0.001 breadth
    // pass in warmup() — a uniform pricing change (~-20% on totals,
    // validated uniform across execution deciles), recorded here so
    // cross-round total diffs read it first. "*" = whole registry.
    "*" -> "r16:jitBreadthWarmup",
    // r18: LPA now reuses the urgentCoPurchaseAdj layout (already built
    // in warmup since r13 for betweenness/random-walk/ANF) instead of
    // re-deriving + checkpointing its own symmetric adjacency inside
    // the timed key — the same shared-index lifecycle, recorded here
    // because it moves the union+materialization out of these two keys.
    "graph_label_propagation" -> "r18:urgentCoPurchaseAdj",
    "graph_modularity" -> "r18:urgentCoPurchaseAdj")

  /** Fixed-work CPU+shuffle calibration probe: a deterministic in-memory
    * sort+agg over spark.range — no I/O, no fixture dependence — so every
    * bench artifact carries an environment yardstick. Quoting totals as
    * `total / calibration` normalizes driver-vs-local and
    * round-over-round ambient drift mechanically instead of by
    * archaeology (VERDICT r9 task 1). Median of 3 runs after 1 warmup.
    */
  private[graft] def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 4000000L, 1, 8)
        .withColumn("k", pmod(hash(col("id")), lit(4096)))
        .withColumn("v", sin(col("id").cast("double")))
        .groupBy("k")
        .agg(sum("v").as("s"), avg("v").as("a"), count(lit(1)).as("n"))
        .orderBy(desc("s"))
        .limit(64)
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup: JIT + codegen cache for the probe's expressions
    val runs = Seq(once(), once(), once()).sorted
    runs(1)
  }

  /** One benched key's measurements. `countedSec` is the cross-round
    * comparable number (construction + count(), same pricing every prior
    * round used); `fullSec` is the honest cost (construction + a
    * toRdd.count materializing EVERY output column — count() re-plans
    * with an aggregate on top, so Catalyst prunes any column the row
    * count doesn't need; the session-6 ml_pca_power find was 14.6 s of
    * real work invisible to the count probe). `cpuSec` is the
    * process-CPU delta across the whole key (all executor threads), the
    * wall-vs-cpu discriminator for environment stalls: wall ≫ cpu means
    * the process was descheduled/blocked, wall ≈ cpu/32 means honest
    * parallel compute (the BENCH_r12 dedup_exact 86.8 s anomaly is
    * diagnosable from exactly this pair). `order` is the execution index
    * (keys run in sorted-name order; a retime reruns INLINE, so the
    * index is also the wall-clock position). `firstAttempt` carries the
    * pre-retime counted seconds when the retime valve fired.
    */
  private[graft] case class KeyRes(
      name: String, countedSec: Double, fullSec: Double, cpuSec: Double,
      rows: Long, order: Int, firstAttempt: Option[Double])

  private def cpuNow(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  /** Prior-round per-key counted medians for the retime valve, read from
    * BENCH_PRIORS.json in the working directory (the driver runs Bench
    * from the repo root; the file is a committed copy of the previous
    * round's queries map). Missing file or key ⇒ no prior ⇒ only the
    * absolute backstop applies. Parsing is a decimal-pair scrape — the
    * file is machine-written (`"key":1.234` pairs), no JSON lib needed.
    */
  private[graft] def loadPriors(): Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get("BENCH_PRIORS.json"))
      // \s* after the colon: the priors file is pretty-printed with a
      // space ("key": 1.234) — the r13 run-1 valve silently loaded ZERO
      // priors without it and let a 13.6× stream_static_join blip
      // through unretimed.
      val re = """"([A-Za-z0-9_]+)":\s*([0-9]+\.[0-9]+)""".r
      re.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }

  /** Retime trigger: a key exceeding 10× its prior-round median (floored
    * at 3 s so sub-second keys don't retime on scheduler noise) is rerun
    * once, inline; with no prior, only a 30 s absolute backstop. Both
    * attempts are reported — the artifact records what stalled and
    * whether it reproduced, instead of wearing a one-off 45× environment
    * spike as the round's graded number (BENCH_r12 dedup_exact).
    */
  private[graft] def retimeThreshold(prior: Option[Double]): Double =
    prior.map(p => math.max(3.0, 10 * p)).getOrElse(30.0)

  /** The full valve (r13 verdict task 6): the 10× threshold above, OR
    * the descheduled signature — wall > 3× prior AND wall > 3× the
    * parallel-compute prediction cpu/cores. The second arm catches the
    * 3-5× environment drifts the 10× valve waves through (r13's
    * graph_pagerank 12.3 s official vs 4.1 s prior read as a regression
    * for a key whose code hadn't changed), while wall ≈ cpu/cores keys
    * — honestly expensive compute — are never retimed at ANY drift,
    * because rerunning honest work just measures it twice. Floored at
    * 2 s so sub-second keys don't churn on scheduler noise.
    */
  private[graft] def shouldRetime(
      wall: Double, cpu: Double, prior: Option[Double],
      cores: Int): Boolean =
    wall > retimeThreshold(prior) ||
      (prior.exists(p => wall > math.max(2.0, 3 * p)) &&
        wall > 3 * (cpu / cores))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // exploit DSv2-reported key-grouped layouts (graft-log partition
      // clustering) — skips the Exchange for partition-keyed aggregates
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up JIT/codegen + file-listing caches on the tiniest SF so the
    // first timed query doesn't absorb one-time session costs.
    warmup(spark, sfDir)
    val calibration = calibrate(spark)
    val priors = loadPriors()
    // Test hook for the marker path itself: GRAFT_BENCH_BREAK_KEY=<key>
    // makes that key throw, so a scratch run can prove a crashing key
    // lands in `errors` (not a fast-looking number) without a code edit.
    val breakKey = sys.env.get("GRAFT_BENCH_BREAK_KEY")
    // (counted, full, cpu, rows, planTag) for one attempt at one key.
    // The plan-class tag (Exchange count + cartesian/BNLJ flags,
    // VERDICT r10 task 8) is read INSIDE the attempt, after the timing
    // captures: count() already forced executedPlan, so the read is
    // string work only — and critically, the frame reference is NOT
    // retained afterwards. Run 1 of r13 kept all 348 frames alive for
    // an after-loop census and measured a monotone late-run drift
    // (execution-order decile median ratios 1.0 → 1.45 vs priors):
    // localCheckpointed frames pin block-manager memory until their
    // reference is GC'd, so holding every frame accumulates the whole
    // run's checkpoint blocks. Dropping the frame per-key lets the
    // ContextCleaner reclaim as the run proceeds.
    // Tuple: (counted, full, cpuFull, rows, planTag, cpuCounted).
    // cpuCounted snapshots process CPU at the counted boundary (tc) so
    // the retime valve's wall-vs-cpu/cores comparison uses the SAME
    // window as the counted wall it judges — cpu measured across the
    // whole attempt includes the untimed full-output re-run, which
    // inflates cpu/cores and can under-trigger the descheduled-signature
    // arm (ADVICE r14). cpuFull stays in the artifact as the honest
    // whole-key compute record.
    def attempt(name: String,
        fn: (SparkSession, String) => DataFrame)
        : (Double, Double, Double, Long, String, Double) = {
      val c0 = cpuNow(); val t0 = System.nanoTime()
      try {
        if (breakKey.contains(name))
          throw new RuntimeException("deliberately broken for marker test")
        val frame = fn(spark, sfDir)
        val tb = System.nanoTime() // construction (incl. side effects)
        val n = frame.count()
        val tc = System.nanoTime() // counted pricing ends here
        val cc = cpuNow()
        frame.queryExecution.toRdd.count() // every output column, re-run
        val tf = System.nanoTime()
        val tag =
          try PlanAudit.planClass(frame.queryExecution.executedPlan.toString)
          catch { case _: Throwable => "unplannable" }
        ((tc - t0) / 1e9, ((tb - t0) + (tf - tc)) / 1e9,
          (cpuNow() - c0) / 1e9, n, tag, (cc - c0) / 1e9)
      } catch {
        case _: Throwable =>
          val c = (cpuNow() - c0) / 1e9
          ((System.nanoTime() - t0) / 1e9, 0.0, c, -1L, "error", c)
      }
    }
    // Stable timing order (map iteration order is hash-dependent).
    // Per key: seconds AND row count; a crashing key records rows=-1 and
    // lands in `errors` instead of wearing a fast-looking number (the r8
    // sink_retention artifact confusion — VERDICT r9 task 7). Zero rows
    // from an oracle-bearing key is equally suspect: the oracle WILL have
    // rows, so the driver compare would fail — surface it in the artifact.
    // Local-iteration hook: GRAFT_BENCH_ONLY=k1,k2 times just those keys
    // (the driver never sets it — official artifacts always price the
    // full map; totals from a filtered run are NOT comparable).
    val only: Option[Set[String]] =
      sys.env.get("GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Fail fast on typo'd filter keys: a misspelled GRAFT_BENCH_ONLY used
    // to silently time zero keys and print an empty-looking artifact
    // (ADVICE r14) — an unknown key is a harness usage error, not data.
    only.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"GRAFT_BENCH_ONLY names unknown keys: ${unknown.toSeq.sorted
          .mkString(", ")}")
    }
    // Diagnostic hook (r16 drift A/B): GRAFT_BENCH_REVERSE=1 times the
    // keys in REVERSE name order. If a regression follows execution
    // POSITION (early-sweep slow phase) rather than key identity, the
    // reversed sweep moves it onto different keys — the discriminator
    // between "this key got slower" and "the first minutes of any sweep
    // run slow". The driver never sets it; official artifacts are always
    // forward-ordered (same pricing as every prior round).
    val reverse = sys.env.get("GRAFT_BENCH_REVERSE").contains("1")
    val ordered0 = SparkEntry.queries.toSeq.sortBy(_._1)
    val timed = (if (reverse) ordered0.reverse else ordered0)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .zipWithIndex
      .map { case ((name, fn), idx) =>
        val a1 = attempt(name, fn)
        if (a1._4 != -1L &&
          shouldRetime(a1._1, a1._6, priors.get(name), cpus.toInt)) {
          System.err.println(
            f"[bench] RETIME $name: ${a1._1}%.1f s counted, " +
              f"counted-window cpu ${a1._6}%.1f s (prior median " +
              f"${priors.get(name).fold("none")(p => f"$p%.2f s")}, " +
              f"10x threshold ${retimeThreshold(priors.get(name))}%.1f s) " +
              "— rerunning once")
          val a2 = attempt(name, fn)
          (KeyRes(name, a2._1, a2._2, a2._3, a2._4, idx, Some(a1._1)),
            a2._5)
        } else (KeyRes(name, a1._1, a1._2, a1._3, a1._4, idx, None), a1._5)
      }
    // Drift stamp (VERDICT r15 task 1): re-run the calibration probe at
    // sweep END. The r15 official artifact embedded up to ~19% of ambient
    // environment with no way to tell WHEN the machine phase hit — a
    // start-only probe certifies the first minute of a 6-minute sweep.
    // start≈end ⇒ the sweep ran in one environment and `total /
    // calibration` normalizes honestly; start≠end ⇒ the artifact itself
    // says the box drifted mid-sweep and the totals carry that caveat.
    val calibrationEnd = calibrate(spark)
    val results = timed.map(_._1)
    val (errors, suspectZero) = issues(results)
    (errors ++ suspectZero).foreach { n =>
      System.err.println(s"[bench] SUSPECT key $n: " +
        (if (errors.contains(n)) "crashed (rows=-1)"
         else "0 rows but oracle-bearing")) }
    val planClasses = timed.map { case (r, tag) => (r.name, tag) }
    val lines = artifactLines(
      results, planClasses, calibration, sfDir, Scratch.divertedKeys,
      calibrationEnd)
    // A filtered run's totals cover only the subset — stamp the stdout
    // artifact so a human reading it later can tell (the driver never
    // sets the filter, so official artifacts never carry this line).
    only.foreach { f =>
      println(s"""{"metric":"filtered","filtered":${f.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}""")
    }
    // A reversed run's totals are order-diagnostic, never official —
    // stamp it, and skip the full-sweep file write below for the same
    // reason a filtered run skips it.
    if (reverse)
      println(s"""{"metric":"reversed","reversed":true,"sf":"$sfDir"}""")
    lines.foreach(println)
    // The stdout tail is a 2000-char window, so the FULL per-key map can
    // never be guaranteed to survive it — persist the complete artifact
    // to a file as well (cwd = repo root under the driver), so per-key
    // cross-round comparisons never depend on the tail. `.jsonl`: the
    // file is one JSON object per line, not one JSON document (ADVICE
    // r14 — tooling that trusted the old .json extension threw "Extra
    // data"). Filtered runs skip the write entirely: a partial artifact
    // in the full-sweep file's place is indistinguishable from a full
    // sweep to a later reader.
    if (only.isEmpty && !reverse)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL_LAST.jsonl"),
        lines.mkString("", "\n", "\n"))
      catch { case _: Throwable => () }
    spark.stop()
  }

  /** (crashed keys, oracle-bearing zero-row keys) — the single deriver
    * both the stderr SUSPECT log and the artifact lines share, so the
    * two can never disagree on what counts as an error.
    */
  private[graft] def issues(
      results: Seq[KeyRes]): (Seq[String], Seq[String]) = (
    results.collect { case r if r.rows == -1L => r.name },
    results.collect {
      case r if r.rows == 0L && SparkEntry.oracleSql.contains(r.name) =>
        r.name })

  /** The stdout artifact lines — factored out so ArtifactContractSpec
    * can pin the format against tools/artifact_check.py without running a
    * bench. Line order is a contract with the driver's stdout-TAIL
    * capture (last 2000 chars, `parsed` = json.loads of the LAST line):
    * most-droppable detail first (the cpu/full/retimed diagnostic lines,
    * then rows/plan_class/queries), and the LAST line carries ONLY
    * scalar headline totals — no embedded maps — so the tail always
    * parses it. (r10 lost the seconds map because it led a truncated
    * detail line; r11 lost the TOTAL because it led the ~7 KB combined
    * final line. Scalars-only-last makes both truncation classes
    * impossible at once.) Headline totals are DUAL: `value`/`total_ok`
    * price count() (the series every prior round used) and `total_full`
    * prices every output column — count()-costing provably under-prices
    * aggregates/top-k (NOTES r12: 394.7 vs 224 s before the fixes), so
    * both series are recorded each round.
    */
  private[graft] def artifactLines(
      results: Seq[KeyRes],
      planClasses: Seq[(String, String)],
      calibration: Double,
      sfDir: String,
      diverted: Seq[String],
      // end-of-sweep calibration probe (VERDICT r15 task 1). Defaults to
      // the start value so synthetic/spec callers that don't model drift
      // read as a zero-drift sweep.
      calibrationEnd: Double = -1.0): Seq[String] = {
    val calibEnd = if (calibrationEnd > 0) calibrationEnd else calibration
    val (errors, suspectZero) = issues(results)
    val total = results.map(_.countedSec).sum
    // Errored keys keep their partial elapsed in `queries` for triage but
    // are excluded from `total_ok`, the cross-round comparable headline
    // (ADVICE r10: mixing error sets silently skews `total`).
    val totalOk = results.collect {
      case r if r.rows != -1L => r.countedSec }.sum
    val totalFull = results.collect {
      case r if r.rows != -1L => r.fullSec }.sum
    def numMap(f: KeyRes => Double) = results
      .map(r => f""""${r.name}":${f(r)}%.3f""").mkString("{", ",", "}")
    val qs = numMap(_.countedSec)
    val fl = numMap(_.fullSec)
    val cp = numMap(_.cpuSec)
    val rws = results.map(r => s""""${r.name}":${r.rows}""")
      .mkString("{", ",", "}")
    val ord = results.map(r => s""""${r.name}":${r.order}""")
      .mkString("{", ",", "}")
    val ret = results.collect { case KeyRes(n, _, _, _, _, _, Some(fa)) =>
      f""""$n":$fa%.3f""" }.mkString("{", ",", "}")
    val pcs = planClasses.map { case (k, t) => s""""$k":"$t"""" }
      .mkString("{", ",", "}")
    def strArr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val hoist = warmHoisted.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    Seq(
      // Pricing-change ledger: which keys had index builds hoisted into
      // warmup, and when — cross-round total diffs read this first.
      s"""{"metric":"warm_hoisted","warm_hoisted":$hoist,"sf":"$sfDir"}""",
      s"""{"metric":"cpu","cpu":$cp,"sf":"$sfDir"}""",
      s"""{"metric":"full","full":$fl,"sf":"$sfDir"}""",
      s"""{"metric":"retimed","retimed":$ret,"order":$ord,"sf":"$sfDir"}""",
      s"""{"metric":"rows","rows":$rws,"errors":${strArr(errors)},"suspect_zero":${strArr(suspectZero)},"scratch_diverted":${strArr(diverted)},"sf":"$sfDir"}""",
      s"""{"metric":"plan_class","plan_class":$pcs,"sf":"$sfDir"}""",
      s"""{"metric":"queries","queries":$qs,"sf":"$sfDir"}""",
      // SCALARS ONLY on the final line: the error/suspect arrays are
      // unbounded (a mass-failure run would push this line past the
      // driver's 2000-char tail — the r11 truncation class all over
      // again); they already live on the rows line, the headline only
      // needs the counts.
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_ok":$totalOk%.3f,"total_full":$totalFull%.3f,"calibration_sec":$calibration%.3f,"calibration_end_sec":$calibEnd%.3f,"calibration_drift":${calibEnd / calibration}%.3f,"sf":"$sfDir","n_queries":${results.size},"n_errors":${errors.size},"n_suspect_zero":${suspectZero.size},"n_retimed":${results.count(_.firstAttempt.isDefined)}}""")
  }
}
