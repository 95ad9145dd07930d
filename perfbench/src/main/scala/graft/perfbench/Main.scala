package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, DsV2, LayoutCache, Pipeline, Similarity, Streaming}

/** The benchmark's measuring process. One client thread runs a workload's
  * pinned keys one at a time (a closed loop with one client) against a
  * local session configured as `graft.Bench` configures its own, and
  * writes every measurement to one JSON file. `run.py` launches it and turns
  * the file into metrics.
  *
  * Arguments: `--spec <workloads.json> --data <dir holding sf0.1>
  * --out <result file> --workload <name>
  * --seed <n> --seconds <n> --trace <0|1>`.
  */
object Main {

  type Query = (SparkSession, String) => DataFrame

  /** Unmeasured passes before the measured ones. One pass on the sf0.001
    * fixture (as `graft.Bench.warmup` does) left the JIT still compiling
    * through the measured passes: process CPU per pass fell 20 -> 13 ->
    * 11 s over three passes of `etl_read`. A pass on the measured fixture
    * compiles the hot loops at their real trip counts; the JIT still
    * settles during the measured passes, so there are at least four and
    * the metrics are their medians.
    */
  val WarmPasses = 1

  /** The warm-up entry points `graft.Bench.warmup` calls, one per step.
    * The three `LayoutCache` copies are separate steps, so a workload
    * builds only the copies its keys read; `setup.layout_s` is their sum.
    */
  val warmSteps: Map[String, (SparkSession, String) => Unit] = Map(
    "layout.partitioned" -> { (s, d) => LayoutCache.partitionedLineitem(s, d); () },
    "layout.zordered" -> { (s, d) => LayoutCache.zorderedLineitem(s, d); () },
    "layout.bucketed" -> LayoutCache.bucketedTables,
    "ann_index" -> Similarity.warmIndexes,
    "graph_cache" -> Pipeline.warmGraph,
    "dedup_index" -> Dedup.warmDedup,
    "stream_inputs" -> Streaming.prepareInputs,
    "dsv2_topic" -> { (s, d) => DsV2.topic(s, d); () })

  /** The session exactly as `graft.Bench.main` builds it. */
  def session(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  /** Heap in use after a full collection, in MiB: what the process keeps
    * alive (caches, indexes, cached and checkpointed blocks). Taken between
    * passes, outside their timing.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
  }

  /** Peak resident set of this process in MiB (VmHWM), or -1. */
  private def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("")
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Throwable => -1.0 }

  private def message(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(300)}"
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val spec = Spec.load(opt("spec"))
    val registry: Map[String, Query] = graft.SparkEntry.queries
    val problems = spec.coverageProblems(registry.keySet)
    if (problems.nonEmpty) {
      problems.foreach(p => System.err.println(s"[perfbench] coverage: $p"))
      sys.exit(3)
    }
    val w = spec.workloads.getOrElse(opt("workload"), {
      System.err.println(s"[perfbench] unknown workload ${opt("workload")}")
      sys.exit(2)
    })
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val dir = Paths.get(opt("data")).resolve("sf0.1").toString
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    val col = new Collector
    val failures = mutable.ArrayBuffer[Map[String, String]]()
    var attempted = 0L
    var spark: SparkSession = null

    def unit[T](name: String, parent: Int, key: String)(body: => T): (Int, T) = {
      val u = col.open(name, parent, key, unit = true)
      spark.sparkContext.setJobGroup(col.group(u), key, false)
      try (u, body)
      finally spark.sparkContext.clearJobGroup()
    }
    def settled(u: Int): Unit = { col.settle(spark.sparkContext, u); col.close(u) }

    // ---- set-up: session start and the workload's warm steps
    col.tracing = trace
    val setupSpan = col.open("setup", 0, "", unit = false)
    val ts = col.nowMs()
    spark = session(cores)
    spark.sparkContext.addSparkListener(col.sparkListener)
    spark.listenerManager.register(col.queryListener)
    spark.streams.addListener(col.streamListener)
    val sessionS = (col.nowMs() - ts) / 1e3
    val steps = w.warm.map { step =>
      attempted += 1
      val t = col.nowMs()
      val (u, _) = unit(s"warm:$step", setupSpan, step) {
        try warmSteps(step)(spark, dir)
        catch { case e: Throwable =>
          failures += Map("what" -> s"warm:$step", "error" -> message(e))
        }
      }
      settled(u)
      s"${step}_s" -> (col.nowMs() - t) / 1e3
    }
    col.close(setupSpan)
    val setup = Map("setup_s" -> (col.nowMs() - ts) / 1e3, "session_s" -> sessionS) ++
      steps

    val sc = spark.sparkContext
    def runKey(k: String, pass: Int): Map[String, Any] = {
      val ks = col.open(k, pass, k, unit = false)
      val t0 = col.nowMs()
      var frame: DataFrame = null
      var err: Option[String] = None
      attempted += 1
      val (bu, _) = unit("build", ks, k) {
        try frame = registry(k)(spark, dir)
        catch { case e: Throwable => err = Some(message(e)) }
      }
      val t1 = col.nowMs()
      if (col.tracing) col.settle(sc, bu)
      col.close(bu)
      var digest: Option[Digest.Result] = None
      val t2 = col.nowMs()
      val (au, _) = unit("action", ks, k) {
        if (frame != null)
          try digest = Some(Digest.of(frame))
          catch { case e: Throwable => err = Some(message(e)) }
      }
      val t3 = col.nowMs()
      if (col.tracing && frame != null)
        col.addPlanning(col.layers(au), frame.queryExecution)
      settled(au)
      col.close(ks)
      err.foreach(e => failures += Map("what" -> s"key:$k", "error" -> e))
      Map("key" -> k, "build_s" -> (t1 - t0) / 1e3, "action_s" -> (t3 - t2) / 1e3,
        "rows" -> digest.map(_.rows).getOrElse(-1L),
        "digest" -> digest.map(_.hex).getOrElse(""),
        "error" -> err.getOrElse(""),
        "passive" -> col.synchronized(passive(col.layers(bu), col.layers(au))),
        "layers" -> (if (col.tracing)
          Some(col.synchronized(
            traced(col.layers(bu), col.layers(au), t0.toLong, t3.toLong)))
          else None))
    }

    // ---- warm-up pass(es), in one fixed order for every seed, so that the
    // JIT profiles the keys the same way in every run
    val tj = col.nowMs()
    val warmPass = col.open("warm:jit", 0, "jit", unit = false)
    val warm = (1 to WarmPasses).flatMap(_ => w.measured.sorted.map(runKey(_, warmPass)))
    col.close(warmPass)
    val jitS = (col.nowMs() - tj) / 1e3

    // ---- measured passes: whole passes until `seconds` have passed, at
    // least four, and enough for 40 latency samples (so the tail percentile
    // has ten samples beyond p75), capped at six passes for workloads with
    // few slow keys. A traced run runs five passes: one untraced pass that
    // only lets the JIT settle (the first pass after the warm-up pass is
    // still the slowest by far), then untraced, traced, traced, untraced,
    // so that the remaining speed-up over the passes cancels out of
    // `trace.overhead_frac`.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val start = System.nanoTime()
    var p = 0
    val minPasses =
      if (trace) 5 else math.min(6, math.max(4, math.ceil(40.0 / w.measured.size).toInt))
    while (p < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      col.tracing = trace && (p == 2 || p == 3)
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(w.measured)
      val ps = col.open("pass", 0, "", unit = false)
      val c0 = cpuNs(); val t0 = col.nowMs()
      val keys = order.map(k => runKey(k, ps))
      val wall = (col.nowMs() - t0) / 1e3
      val cpu = (cpuNs() - c0) / 1e9
      col.close(ps)
      passes += Map("pass" -> p, "traced" -> col.tracing,
        "settle" -> (trace && p == 0), "wall_s" -> wall, "cpu_s" -> cpu,
        "live_heap_mb" -> liveHeapMb(), "keys" -> keys)
      p += 1
    }
    col.tracing = false
    spark.stop()

    val result = Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "setup" -> setup, "jit_s" -> jitS, "warm_keys" -> warm,
      "passes" -> passes.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> (if (trace) col.allSpans.map(s => Map("id" -> s.id,
        "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "key" -> s.key, "run" -> s"${w.name}-$seed"))
        else Nil))
    Files.write(Paths.get(opt("out")),
      org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats)
        .getBytes("UTF-8"))
  }

  private def passive(ls: Layers*): Map[String, Any] = Map(
    "sink_rows" -> ls.map(_.sinkRows).sum,
    "sink_bytes" -> ls.map(_.sinkBytes).sum,
    "sink_tasks" -> ls.map(_.sinkTasks).sum,
    "batch_ms" -> ls.flatMap(_.batchMs),
    "stream_input_rows" -> ls.map(_.streamInputRows).sum)

  private def traced(b: Layers, a: Layers, t0: Long,
      t1: Long): Map[String, Any] = {
    val ls = Seq(b, a)
    def sum(f: Layers => Long) = ls.map(f).sum
    val taskMs = ls.flatMap(_.taskSpans).map { case (x, y) => y - x }.sum
    Map(
      "build_jobs" -> b.jobs, "jobs" -> sum(_.jobs), "stages" -> sum(_.stages),
      "tasks" -> sum(_.tasks), "task_ms" -> taskMs,
      "task_run_ms" -> sum(_.taskRunMs), "task_cpu_ns" -> sum(_.taskCpuNs),
      "gc_ms" -> sum(_.gcMs),
      "idle_ms" -> Collector.idleMs((b.taskSpans ++ a.taskSpans).toSeq, t0, t1),
      "skew" -> math.max(Collector.skew(b), Collector.skew(a)),
      "shuffle_write" -> sum(_.shuffleWrite), "shuffle_read" -> sum(_.shuffleRead),
      "fetch_wait_ms" -> sum(_.fetchWaitMs), "spill" -> sum(_.spill),
      "scan_bytes" -> sum(_.scanBytes), "scan_rows" -> sum(_.scanRows),
      "scan_tasks" -> sum(_.scanTasks),
      "analysis_ms" -> sum(_.analysisMs), "optimize_ms" -> sum(_.optimizeMs),
      "physical_ms" -> sum(_.physicalMs), "actions" -> sum(_.actions),
      "get_batch_ms" -> sum(_.getBatchMs), "add_batch_ms" -> sum(_.addBatchMs),
      "commit_ms" -> sum(_.commitMs), "state_rows" -> sum(_.stateRows),
      "state_bytes" -> sum(_.stateBytes),
      "cut_rdds" -> ls.map(_.cutRdds.size).sum, "cut_bytes" -> sum(_.cutBytes))
  }
}
