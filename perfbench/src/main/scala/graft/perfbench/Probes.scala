package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A span: one timed interval of the run, with the span that caused it. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double,
    endMs: Double, key: String)

/** Counters for one unit of work: a key's build or action (`name`), or a
  * warm step. The passive fields (sink and streaming progress) fill on
  * every run; the rest only while the collector is tracing.
  */
final class Layers(val key: String, val name: String) {
  // passive
  var sinkRows = 0L; var sinkBytes = 0L; var sinkTasks = 0L
  val batchMs = mutable.ArrayBuffer[Long]()
  var streamInputRows = 0L
  // traced
  var jobs = 0L; var buildJobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L
  var scanBytes = 0L; var scanRows = 0L; var scanTasks = 0L
  var analysisMs = 0L; var optimizeMs = 0L; var physicalMs = 0L
  var actions = 0L
  var getBatchMs = 0L; var addBatchMs = 0L; var commitMs = 0L
  var stateRows = 0L; var stateBytes = 0L
  val cutRdds = mutable.Set[Int]()
  var cutBytes = 0L
  val taskSpans = mutable.ArrayBuffer[(Long, Long)]()
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
}

/** The benchmark's only view into Spark: public listener events.
  *
  * Work is attributed through the job group the client thread sets
  * (`pb|<spanId>`); jobs started by other threads (streaming micro-batches)
  * and events that carry no job (block updates, query progress, planning)
  * go to the unit that is current on the client thread. The client drains
  * the listener bus ([[settle]]) before it moves to the next key, and while
  * tracing also between a key's build and its action, so no event of one
  * unit is delivered while a later one is current.
  */
final class Collector {
  @volatile var tracing = false
  @volatile private var current: Int = 0
  private val units = mutable.Map[Int, Layers]()
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private val jobUnit = mutable.Map[Int, Int]()
  private val jobStartMs = mutable.Map[Int, Long]()
  private val stageUnit = mutable.Map[Int, Int]()
  private val openJobs = mutable.Map[Int, Int]()
  private val origin = (System.currentTimeMillis(), System.nanoTime())

  /** Wall clock in epoch milliseconds with nanosecond resolution. */
  def nowMs(): Double = origin._1 + (System.nanoTime() - origin._2) / 1e6

  def group(unit: Int): String = s"pb|$unit"

  /** Opens a span (recorded only while tracing); a unit (a key's build or
    * action, or a warm step) also gets counters.
    */
  def open(name: String, parent: Int, key: String, unit: Boolean): Int =
    synchronized {
      val id = nextId; nextId += 1
      if (tracing) spans += Span(id, name, parent, nowMs(), Double.NaN, key)
      if (unit) { units(id) = new Layers(key, name); current = id }
      id
    }

  def close(id: Int): Unit = synchronized {
    val i = spans.lastIndexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(endMs = nowMs())
  }

  def layers(unit: Int): Layers = synchronized(units(unit))
  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  private def unitOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("pb|") => g.drop(3).toInt }
      .filter(units.contains).getOrElse(current)

  /** Waits until every job of `unit` has reported its end to this
    * collector: drain the bus, then wait (no fixed sleep) for any job whose
    * end is still outstanding.
    */
  def settle(sc: org.apache.spark.SparkContext, unit: Int): Unit = {
    org.apache.spark.BusDrain.drain(sc, 60000)
    synchronized {
      val deadline = System.nanoTime() + 60000000000L
      while (openJobs.getOrElse(unit, 0) > 0 && System.nanoTime() < deadline)
        wait(1000)
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Collector.this.synchronized {
        val u = unitOf(e.properties)
        jobUnit(e.jobId) = u
        jobStartMs(e.jobId) = e.time
        openJobs(u) = openJobs.getOrElse(u, 0) + 1
        e.stageIds.foreach(s => if (!stageUnit.contains(s)) stageUnit(s) = u)
        if (tracing) units.get(u).foreach { l =>
          l.jobs += 1
          if (l.name == "build") l.buildJobs += 1
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Collector.this.synchronized {
        jobUnit.remove(e.jobId).foreach { u =>
          openJobs(u) = openJobs.getOrElse(u, 1) - 1
          val t0 = jobStartMs.remove(e.jobId).getOrElse(e.time)
          if (tracing) {
            val id = nextId; nextId += 1
            spans += Span(id, "job", u, t0.toDouble, e.time.toDouble,
              units.get(u).map(_.key).getOrElse(""))
          }
        }
        Collector.this.notifyAll()
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (tracing) Collector.this.synchronized {
        val u = stageUnit.getOrElse(e.stageInfo.stageId, current)
        units.get(u).foreach(_.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Collector.this.synchronized {
        val u = stageUnit.getOrElse(e.stageId, current)
        val m = e.taskMetrics
        units.get(u).foreach { case l if m != null =>
          val out = m.outputMetrics
          if (out.recordsWritten > 0 || out.bytesWritten > 0) {
            l.sinkRows += out.recordsWritten; l.sinkBytes += out.bytesWritten
            l.sinkTasks += 1
          }
          if (tracing) {
            val info = e.taskInfo
            l.tasks += 1
            l.taskRunMs += m.executorRunTime
            l.taskCpuNs += m.executorCpuTime
            l.gcMs += m.jvmGCTime
            l.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            l.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            l.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            l.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            val in = m.inputMetrics
            if (in.bytesRead > 0 || in.recordsRead > 0) {
              l.scanBytes += in.bytesRead; l.scanRows += in.recordsRead
              l.scanTasks += 1
            }
            l.taskSpans += ((info.launchTime, info.finishTime))
            l.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer())
              .+= (info.finishTime - info.launchTime)
          }
        case _ => ()
        }
      }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (tracing) Collector.this.synchronized {
        val b = e.blockUpdatedInfo
        b.blockId match {
          case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
            units.get(current).foreach { l =>
              l.cutRdds += rdd; l.cutBytes += b.memSize + b.diskSize
            }
          case _ => ()
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      if (tracing) Collector.this.synchronized {
        units.get(current).foreach(addPlanning(_, qe))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Adds one action's Catalyst phase times to `l`. */
  def addPlanning(l: Layers, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    l.actions += 1
    l.analysisMs += ms("analysis")
    l.optimizeMs += ms("optimization")
    l.physicalMs += ms("planning")
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Collector.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        units.get(current).foreach { l =>
          l.batchMs += d.getOrElse("triggerExecution", 0L)
          l.streamInputRows += p.numInputRows
          if (tracing) {
            l.getBatchMs += d.getOrElse("getBatch", 0L) +
              d.getOrElse("latestOffset", 0L)
            l.addBatchMs += d.getOrElse("addBatch", 0L)
            l.commitMs += d.getOrElse("commitOffsets", 0L) +
              d.getOrElse("walCommit", 0L)
            val ops = p.stateOperators
            l.stateRows = math.max(l.stateRows, ops.map(_.numRowsTotal).sum)
            l.stateBytes = math.max(l.stateBytes, ops.map(_.memoryUsedBytes).sum)
          }
        }
      }
  }
}

object Collector {

  /** Wall time in [t0, t1] during which none of the task spans ran, in
    * milliseconds.
    */
  def idleMs(taskSpans: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L; var end = t0
    taskSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    math.max(0L, (t1 - t0) - covered)
  }

  /** Largest max/median task-time ratio over the stages of `l` (1 when no
    * stage ran two or more tasks).
    */
  def skew(l: Layers): Double = {
    val r = l.stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (r.isEmpty) 1.0 else r.max
  }
}
