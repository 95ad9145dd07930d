package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Inspects registry keys on Bench's session:
  * `runMain graft.Probe <mode> <k1,k2,...|all> [sfDir] [reps]`, where
  * sfDir defaults to SPARK_GRAFT_SF_DIR and reps to 3. Modes:
  *  - `plan`: runs each key once through Bench's full-output path and
  *    prints its jobs and stages (wall seconds, tasks), each stream
  *    batch's `durationMs`, and the final (post-AQE) executed plan;
  *  - `census`: one line per key — jobs and first-attempt stages of the
  *    counted run (construction + count()), and [[Bench.planClass]] of
  *    the frame's plan before AQE re-plans it;
  *  - `time`: [[Bench.warmup]], then `reps` [[Bench.attempt]]s per key, in
  *    the order given (a reversed key list is the reversed sweep that
  *    tells a slow key from a slow sweep position).
  * An unknown key fails before any Spark work. Each mode is a function of
  * the session and writes its lines to `out`.
  */
object Probe {
  type Query = (SparkSession, String) => DataFrame

  /** The named keys with their queries, in the order given; `all` is
    * every key in name order.
    */
  def resolve(keys: Seq[String]): Seq[(String, Query)] = {
    val qs = SparkEntry.queries
    val names = if (keys == Seq("all")) qs.keys.toSeq.sorted else keys
    val unknown = names.filterNot(qs.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    names.map(k => k -> qs(k))
  }

  /** Runs `body` with `l` registered and returns once `l` has seen every
    * event `body`'s actions posted (and none posted before it).
    */
  private def listening[T](spark: SparkSession, l: SparkListener)(body: => T): T = {
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { val r = body; Bridge.drainListenerBus(spark); r }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** `body`'s result with the jobs and first-attempt stages the scheduler
    * ran for it. A stage resubmitted after a task or executor failure
    * (attempt > 0) is environment noise, not extra lineage, so it is not
    * counted.
    */
  def schedulerWork[T](spark: SparkSession)(body: => T): (T, Int, Int) = {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val r = listening(spark, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.attemptNumber() == 0) { stages.incrementAndGet(); () }
    })(body)
    (r, jobs.get, stages.get)
  }

  def plan(spark: SparkSession, keys: Seq[String], sfDir: String,
      out: String => Unit = println): Unit =
    resolve(keys).foreach { case (key, fn) =>
      val lines = new ConcurrentLinkedQueue[String]()
      val starts = TrieMap.empty[Int, Long]
      val jobs = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          starts.put(e.jobId, e.time); ()
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit = {
          val s = starts.getOrElse(e.jobId, e.time)
          lines.add(f"job ${e.jobId} ${(e.time - s) / 1e3}%.3f s"); ()
        }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val ms = (for (s <- si.submissionTime; c <- si.completionTime)
            yield c - s).getOrElse(-1L)
          lines.add(f"stage ${si.stageId} ${ms / 1e3}%.3f s " +
            s"tasks=${si.numTasks} attempt=${si.attemptNumber()} " +
            si.name.take(60)); ()
        }
      }
      val batches = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          lines.add(s"batch ${p.batchId} rows=${p.numInputRows} durationMs=" +
            new java.util.TreeMap[String, java.lang.Long](p.durationMs)); ()
        }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(batches)
      val (frame, rows, buildS, runS) =
        try listening(spark, jobs) {
          val t0 = System.nanoTime()
          val f = fn(spark, sfDir)
          val t1 = System.nanoTime()
          val n = f.queryExecution.toRdd.count()
          (f, n, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
        } finally spark.streams.removeListener(batches)
      out(f"=== plan $key rows=$rows build=$buildS%.3f s run=$runS%.3f s")
      lines.asScala.foreach(out)
      out(frame.queryExecution.executedPlan.toString)
    }

  def census(spark: SparkSession, keys: Seq[String], sfDir: String,
      out: String => Unit = println): Unit =
    resolve(keys).foreach { case (key, fn) =>
      try {
        val (frame, jobs, stages) = schedulerWork(spark) {
          val f = fn(spark, sfDir); f.count(); f
        }
        out(s"census $key jobs=$jobs stages=$stages " +
          s"plan=${Bench.planClass(frame.queryExecution.executedPlan)}")
      } catch { case NonFatal(e) => out(s"census $key failed: $e") }
    }

  def time(spark: SparkSession, keys: Seq[String], sfDir: String,
      reps: Int, out: String => Unit = println): Unit = {
    val qs = resolve(keys)
    val failed = Bench.warmup(spark, sfDir)
    if (failed.nonEmpty) out(s"warmup failed: ${failed.mkString(",")}")
    qs.foreach { case (key, fn) =>
      val counted = (1 to reps).map { r =>
        val a = Bench.attempt(spark, sfDir, key, fn)
        out(f"time $key rep=$r counted=${a.counted}%.3f full=${a.full}%.3f " +
          f"cpu=${a.cpu}%.3f rows=${a.rows} plan=${a.planTag}")
        a.counted
      }
      out(f"time $key median_counted=${counted.sorted.apply(reps / 2)}%.3f reps=$reps")
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe plan|census|time <k1,k2,...|all> [sfDir] [reps]"
    require(args.nonEmpty, usage)
    val keys = args.lift(1).getOrElse("all").split(",").toSeq
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw new IllegalArgumentException(
        s"$usage (sfDir, or SPARK_GRAFT_SF_DIR)"))
    val reps = args.lift(3).fold(3)(_.toInt)
    val run: SparkSession => Unit = args(0) match {
      case "plan" => plan(_, keys, sfDir)
      case "census" => census(_, keys, sfDir)
      case "time" => time(_, keys, sfDir, reps)
      case m => throw new IllegalArgumentException(s"unknown mode $m; $usage")
    }
    resolve(keys) // unknown keys fail before the session starts
    val spark = Session.local()
    try run(spark) finally spark.stop()
  }
}
