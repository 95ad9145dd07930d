package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.util.Using

import graft.{Q, QueryModule, Scratch, Session, Tables, Warm}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate,
  DeduplicateWithinWatermark, Distinct, EventTimeWatermark,
  FlatMapGroupsWithState, Join, LogicalPlan, TransformWithState}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues,
  Trigger, TTLConfig, ValueState}

/** Spark 4 transformWithState processor: per-user event count + max value,
  * held in a typed ValueState (RocksDB-backed). Monotone state ⇒ the final
  * update per user equals the batch aggregate regardless of batching.
  */
class UserStatsProcessor
    extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
  @transient private var state: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, Double)]("stats",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
    val prev = Option(state.get()).getOrElse((0L, Double.NegativeInfinity))
    var n = prev._1
    var mx = prev._2
    rows.foreach { r => n += 1; if (r._2 > mx) mx = r._2 }
    state.update((n, mx))
    Iterator.single((key, n, mx))
  }
}

/** §2.H — event-time windowing and Structured Streaming over `events`.
  *
  * The three window queries run the identical expression in batch mode, so
  * they are DuckDB-oracle-checkable; the stream_* queries run a real
  * MicroBatchExecution: the events table is re-cut into three time-ordered
  * parquet slice files, fed through a file source with maxFilesPerTrigger=1
  * (three micro-batches + finalizing batch), driven to completion with
  * Trigger.AvailableNow. Because slices are time-ordered, no event is ever
  * behind the watermark, and the streamed result equals the batch result —
  * which is exactly the exactly-once contract, and lets several streaming
  * queries carry a batch-SQL oracle.
  *
  * Scale notes: state (watermark aggs, dedup keys, per-user state) lives in
  * per-partition StateStores keyed by the groupBy columns, so state shards
  * horizontally with executors; watermarks bound state size — without them
  * an unbounded-key agg would OOM at 100 TB/day ingest.
  */
object Streaming extends QueryModule {

  /** Pre-cut the shared slice input for a scale dir (idempotent). Bench
    * calls this in warmup so the first streaming query's time measures the
    * stream, not the one-time slice materialization.
    */
  private[graft] def prepareInputs(s: SparkSession, dir: String): Unit = {
    slicesIn(s, dir); ()
  }

  /** The 3-file time-ordered cut of `events` is identical for every
    * streaming query at a given scale dir, so it is cut once per
    * (JVM, sfDir); returns its input dir.
    */
  private def slicesIn(s: SparkSession, dir: String): String =
    Warm.disk("stream_slices", dir)(cutSlices(s, dir, _))

  /** The shared slices as a stream of one file per micro-batch, and a
    * fresh scratch root for the key's checkpoint and sinks.
    */
  private def sliceStream(s: SparkSession, dir: String,
      key: String): (DataFrame, String) = {
    val root = Scratch.fresh(key)
    (fileStream(s, dir, slicesIn(s, dir)), root)
  }

  /** The event files in `in` as a stream that takes one file per
    * micro-batch, in mtime order.
    */
  private def fileStream(s: SparkSession, dir: String, in: String): DataFrame =
    s.readStream.schema(Tables.events(s, dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)

  /** The three time-ordered cuts of `events`: before day 11, days 11-20,
    * from day 21.
    */
  private val cuts: Seq[Column] = {
    val day11 = lit("2024-01-11").cast("timestamp")
    val day21 = lit("2024-01-21").cast("timestamp")
    Seq(col("ts") < day11, col("ts") >= day11 && col("ts") < day21,
      col("ts") >= day21)
  }

  private def cutSlices(s: SparkSession, dir: String, root: String): String = {
    val ev = Tables.events(s, dir)
    cuts.zipWithIndex.foreach { case (pred, i) =>
      writeSlice(ev.filter(pred), root, s"slice$i", i)
    }
    s"$root/in"
  }

  /** Writes `rows` as one parquet file and lands it as slice `name` of
    * `root` (see [[landSlice]]).
    */
  private def writeSlice(rows: DataFrame, root: String, name: String,
      slot: Int): Unit = {
    val tmp = s"$root/tmp_$name"
    rows.coalesce(1).write.mode("overwrite").parquet(tmp)
    landSlice(Using.resource(Files.list(Paths.get(tmp)))(
      _.filter(_.toString.endsWith(".parquet")).findFirst().get()),
      root, name, slot)
  }

  /** Copies `file` to `<root>/in/<name>.parquet` with the mtime of arrival
    * `slot`. The file source orders arrivals by modification time, so
    * distinct, increasing mtimes make the micro-batch order deterministic.
    */
  private def landSlice(file: Path, root: String, name: String,
      slot: Int): Unit = {
    val dst = Paths.get(root, "in", s"$name.parquet")
    Files.createDirectories(dst.getParent)
    Files.copy(file, dst)
    Files.setLastModifiedTime(dst,
      FileTime.fromMillis(1700000000000L + slot * 60000L))
  }

  /** The settings `drive` reads off a streaming query's analyzed plan. A
    * query fixes its settings when it starts, and every stateful operator
    * it will run is a node of that plan.
    *
    * Whole-stage codegen is on unless the plan holds an event-time
    * watermark or group state (`EventTimeWatermark`,
    * `FlatMapGroupsWithState`, `TransformWithState`). Those plans embed
    * per-batch literals (the current watermark, CurrentBatchTimestamp) in
    * generated code, so the class cache misses every batch and janino
    * pays ~100-300 ms a batch, more than a fixture batch's data work
    * (interpreted, r12: stream_watermark_agg 1.86 → 1.19 s,
    * stream_session_window 2.09 → 1.62 s). Any other plan generates the
    * same code every batch, the cache hits from batch 1, and codegen wins
    * (r13: the 100k-rows/batch foreachBatch gate 2.1 → 1.5 s, the
    * stateless enrich join 1.1 → 0.9 s). Production jobs with large
    * batches amortize the compile and keep the default.
    *
    * The trailing no-data micro-batch is skipped only when the plan has a
    * watermark and every stateful node emits its rows on arrival
    * (`Deduplicate`, `DeduplicateWithinWatermark`, an inner join of two
    * streams): there that batch only evicts state. Watermark aggregates,
    * session windows, group state and outer stream-stream joins emit in
    * it (closed windows, null-padded rows), so they keep it.
    *
    * `TransformWithState` needs the RocksDB state store provider.
    */
  private[graft] def settingsFor(plan: LogicalPlan): Seq[(String, String)] = {
    val watermark = plan.exists(_.isInstanceOf[EventTimeWatermark])
    val tws = plan.exists(_.isInstanceOf[TransformWithState])
    val groupState = tws || plan.exists(_.isInstanceOf[FlatMapGroupsWithState])
    // One entry per stateful node: does it emit its rows on arrival?
    val emitsOnArrival = plan.collect {
      case n @ (_: Deduplicate | _: DeduplicateWithinWatermark)
          if n.isStreaming => true
      case j: Join if j.left.isStreaming && j.right.isStreaming =>
        j.joinType == Inner
      case a @ (_: Aggregate | _: Distinct) if a.isStreaming => false
      case _: FlatMapGroupsWithState | _: TransformWithState => false
    }
    val noDataBatch = !(watermark && emitsOnArrival.nonEmpty &&
      emitsOnArrival.forall(identity))
    Seq("spark.sql.codegen.wholeStage" -> (!watermark && !groupState).toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatch.toString) ++
      (if (tws) Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
       else Nil)
  }

  /** Runs the streaming query `q` to completion: `sink` picks the output,
    * and this sets the checkpoint dir `ckpt`, `Trigger.AvailableNow`, and
    * the session settings of [[settingsFor]] plus two for the harness,
    * all restored after.
    *
    * Shuffle partitions are 4. Stateful operators fix their
    * state-partition count from spark.sql.shuffle.partitions at the first
    * checkpoint, and every state partition costs checkpoint files per
    * micro-batch, so the right count is min(cores, what the key
    * cardinality supports), not the batch default. Measured at sf0.1: 32
    * partitions ≈ 3× slower than 8 for the stream-stream join; 4 (=
    * harness cores) beats 8 again (5.3 s vs 7.0 s) by halving per-batch
    * checkpoint files with zero parallelism loss; 2 is WORSE than 4
    * (parallelism loss overtakes the file savings). On a real cluster
    * this scales with executor count.
    *
    * Checkpoint file manager: the default FileContext-based manager
    * costs ~45 ms per offset/commit-log write on LOCAL filesystems
    * (FileContext init + CRC side files), i.e. ~130 ms of pure log
    * overhead per micro-batch before any data moves. The
    * FileSystemBased manager does the identical write-temp-then-rename
    * protocol through the plain FileSystem API at ~12 ms, and the same
    * conf feeds the state-store delta writers, so addBatch drops too
    * (StreamProfile r10: stream_dedup 3.4→1.8 s, stream_watermark_agg
    * 3.3→2.1 s). Local-fs rename is atomic for a single driver, which a
    * harness JVM is BY CONSTRUCTION; production deployments on HDFS/S3
    * keep Spark's default manager (this scope never touches cluster
    * conf — it restores on exit).
    *
    * The scope stays open until the query ends: the query takes its
    * settings when it starts, and its offset log builds its checkpoint
    * file manager from this session's conf, possibly after `start()`
    * returns.
    */
  private[operators] def drive[T](q: Dataset[T], ckpt: String)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): Unit =
    Session.withConf(q.sparkSession, Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "checkpointing.FileSystemBasedCheckpointFileManager")) ++
      settingsFor(q.queryExecution.analyzed): _*) {
      sink(q.writeStream).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }

  def all: Seq[Q] = Seq(
    // 1-hour tumbling window aggregate (batch mode of the same expression).
    // Emitted window bounds are cast to NTZ: Spark writes tz-adjusted
    // TIMESTAMP_MICROS while DuckDB's TIMESTAMP is naive — NTZ (under the
    // fixed UTC session zone) makes the schemas agree without moving values.
    Q(
      "window_tumbling",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
          .select(col("w.start").cast("timestamp_ntz").as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("window_start", "event_type"),
      oracle = Some("""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""")),

    // Sliding window (1 h window, 15 min slide): every event lands in 4
    // epoch-aligned windows; the oracle rebuilds the window set arithmetically.
    Q(
      "window_sliding",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
          .select(col("w.start").cast("timestamp_ntz").as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("window_start", "event_type"),
      oracle = Some("""
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - k * INTERVAL '15 minutes' AS window_start,
               event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
        GROUP BY 1, 2 ORDER BY window_start, event_type""")),

    // Session windows (30-min inactivity gap) per user. Spark closes a
    // session when the next event is >= gap after the previous (strict
    // overlap merge); the oracle's gaps-and-islands flag uses the same >=.
    Q(
      "window_session",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(sum("value"), 4).as("sum_value"))
          .select(col("user_id"),
            col("sw.start").cast("timestamp_ntz").as("session_start"),
            col("sw.end").cast("timestamp_ntz").as("session_end"),
            col("n_events"), col("sum_value"))
          .orderBy("user_id", "session_start"),
      oracle = Some("""
        WITH x AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        y AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess
          FROM x)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end,
               count(*) AS n_events, round(sum(value), 4) AS sum_value
        FROM y GROUP BY user_id, sess ORDER BY user_id, session_start""")),

    // Streaming file-source ingestion: 3 micro-batches, complete-mode agg.
    // Time-ordered arrival ⇒ result equals the batch aggregate (oracle).
    Q(
      "stream_file_source",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_file_source")
        drive(ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value")),
          s"$root/ckpt")(
          _.outputMode("complete").format("memory").queryName("graft_sfs"))
        s.table("graft_sfs").orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Micro-batch parquet sink via foreachBatch (the exactly-once-per-batch
    // pattern: idempotent append keyed by batchId in real deployments).
    // Verified by re-reading the sink and aggregating.
    Q(
      "stream_sink_foreachbatch",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_sink_foreachbatch")
        val sink = s"$root/sink"
        drive(ev, s"$root/ckpt")(_.foreachBatch {
          (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(sink)
        })
        s.read.parquet(sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct("user_id").as("n_users"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Per-micro-batch data-quality gate in the ingest path — the
    // validation pass an ingestion service runs on EVERY arriving batch:
    // inside foreachBatch each micro-batch is audited in one scan
    // (api.Quality.expectations), the audit rows append to a parquet
    // audit log tagged with the batch id, and rows failing the divert
    // rule (event_type = 'error', 2014 real rows in the corpus at
    // sf0.01) quarantine to a separate sink while the rest flow on —
    // bad records never block the pipeline (batch-level record safety,
    // complementing scan_csv_corrupt's parse-level safety). Row-level
    // rules are slicing-invariant, so the per-rule SUM over the batch
    // audit must equal the whole-table audit: the oracle proves every
    // row was audited exactly once across micro-batches. n_batches
    // counts only non-empty batches (a finalizing empty batch would
    // audit 0 rows and must not change the result).
    Q(
      "stream_quality_gate",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_quality_gate")
        val audit = s"$root/audit"
        val good = s"$root/good"
        val quarantine = s"$root/quarantine"
        val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
          "type_not_error" -> (col("event_type") =!= "error"),
          "user_present" -> col("user_id").isNotNull,
          "value_max_100" -> (col("value") <= lit(100.0)))
        drive(ev, s"$root/ckpt")(_.foreachBatch {
          (batch: DataFrame, bid: Long) =>
            graft.api.Quality.expectations(batch, rules)
              .withColumn("batch_id", lit(bid))
              .write.mode("append").parquet(audit)
            batch.filter(col("event_type") =!= "error")
              .write.mode("append").parquet(good)
            batch.filter(col("event_type") === "error")
              .write.mode("append").parquet(quarantine)
        })
        s.read.parquet(audit)
          .groupBy("rule")
          .agg(
            countDistinct(when(col("n_checked") > 0, col("batch_id")))
              .as("n_batches"),
            sum("n_checked").as("n_checked"),
            sum("n_violations").as("n_violations"))
          .orderBy("rule")
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT 'type_not_error' AS rule, CAST(3 AS BIGINT) AS n_batches,
                 (SELECT count(*) FROM events) AS n_checked,
                 (SELECT count(*) FROM events
                  WHERE NOT coalesce(event_type <> 'error', FALSE))
                   AS n_violations
          UNION ALL
          SELECT 'user_present', CAST(3 AS BIGINT),
                 (SELECT count(*) FROM events),
                 (SELECT count(*) FROM events WHERE user_id IS NULL)
          UNION ALL
          SELECT 'value_max_100', CAST(3 AS BIGINT),
                 (SELECT count(*) FROM events),
                 (SELECT count(*) FROM events
                  WHERE NOT coalesce(value <= CAST(100 AS DOUBLE), FALSE))
        ) ORDER BY rule""")),

    // Watermark LATE-DATA DROP — the semantics the in-order
    // stream_watermark_agg never exercises. Two RUNS against one
    // checkpoint: run 1 ingests days 1-10 and 21-30 (watermark advances
    // to max − 24 h ≈ day 29 and persists in the checkpoint); run 2
    // restarts the query after days 11-20 arrive — every one of those
    // rows is below the RESTORED watermark and is dropped. Restart-based
    // sequencing makes the drop deterministic regardless of how the file
    // source batches within a run (a single-run out-of-order feed can
    // collapse into one batch and never see a watermark — measured).
    // Append mode emits only finalized windows; the oracle reproduces
    // both effects arithmetically.
    Q(
      "stream_late_drop",
      (s, dir) => {
        val root = Scratch.fresh("stream_late_drop")
        val ev = Tables.events(s, dir)
        val sink = s"$root/sink"
        // No file limit: each run takes every file present in one batch.
        def runOnce(): Unit =
          drive(s.readStream.schema(ev.schema).parquet(s"$root/in")
            .withWatermark("ts", "24 hours")
            .groupBy(window(col("ts"), "1 day").as("w"))
            .agg(count(lit(1)).as("n"))
            .select(col("w.start").cast("timestamp_ntz").as("day_start"),
              col("n")), s"$root/ckpt")(
            _.format("parquet").option("path", sink).outputMode("append"))
        writeSlice(ev.filter(cuts(0)), root, "a_early", 0)
        writeSlice(ev.filter(cuts(2)), root, "b_jump", 1)
        runOnce()
        writeSlice(ev.filter(cuts(1)), root, "c_late", 2)
        runOnce()
        s.read.parquet(sink).orderBy("day_start")
      },
      oracle = Some("""
        WITH wm AS (
          SELECT max(ts) - INTERVAL 24 HOURS AS w
          FROM events
          WHERE ts < TIMESTAMP '2024-01-11'
             OR ts >= TIMESTAMP '2024-01-21')
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
               count(*) AS n
        FROM events, wm
        WHERE (ts < TIMESTAMP '2024-01-11'
               OR ts >= TIMESTAMP '2024-01-21')
          AND date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
        GROUP BY 1 ORDER BY day_start""")),

    // Exactly-once under FULL REPLAY: every micro-batch lands in a
    // batch_id=<id> partition via dynamic partition overwrite, so
    // re-processing a batch REPLACES its output instead of appending a
    // duplicate. The query then replays the entire stream from a fresh
    // checkpoint into the same sink — the strongest retry scenario an
    // at-least-once source can produce — and the final aggregate still
    // equals the batch truth (the oracle). maxFilesPerTrigger=1 pins
    // batch composition so both runs cover the same partitions.
    Q(
      "stream_upsert_idempotent",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_upsert_idempotent")
        val sink = s"$root/sink"
        def runOnce(ckpt: String): Unit =
          drive(ev, ckpt)(_.foreachBatch { (batch: DataFrame, id: Long) =>
            batch.withColumn("batch_id", lit(id))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").parquet(sink)
          })
        runOnce(s"$root/ckpt")
        runOnce(s"$root/ckpt_replay") // full replay: same data, fresh offsets
        s.read.parquet(sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Native partitioned streaming file sink: the micro-batch stream writes
    // directly into a Hive-partitioned parquet layout (event_type dirs)
    // with exactly-once tracking via the sink's file manifest log. The
    // re-read filters on the partition column, so downstream consumers get
    // partition pruning over data that was laid out correctly at ingest —
    // at 100 TB/day this layout decision at the sink is what makes every
    // later query prunable.
    Q(
      "stream_sink_partitioned",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_sink_partitioned")
        val sink = s"$root/sink"
        drive(ev, s"$root/ckpt")(_.format("parquet")
          .partitionBy("event_type").option("path", sink))
        s.read.parquet(sink)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(sum("value"), 4).as("sum_value"),
            countDistinct("user_id").as("n_users"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type ORDER BY event_type""")),

    // Rate-limited generator source (the Kafka-shaped ingest emulation: no
    // Kafka jar ships in this container, and rate-micro-batch is the
    // deterministic stand-in Spark provides). rowsPerBatch pins exactly
    // which values the micro-batch carries (AvailableNow drains the one
    // currently-available batch), so the streamed aggregate is
    // arithmetically checkable: values 0..2499.
    Q(
      "stream_rate_source",
      (s, dir) => {
        drive(s.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", 2500)
          .option("numPartitions", 4)
          .option("startTimestamp", 1700000000000L)
          .load()
          .groupBy((col("value") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"), sum("value").as("sum_value")),
          s"${Scratch.fresh("stream_rate_source")}/ckpt")(
          _.outputMode("complete").format("memory").queryName("graft_srs"))
        s.table("graft_srs").orderBy("bucket")
      },
      oracle = Some("""
        SELECT i % 10 AS bucket, count(*) AS n, CAST(sum(i) AS BIGINT) AS sum_value
        FROM (SELECT unnest(generate_series(0, 2499)) AS i)
        GROUP BY 1 ORDER BY bucket""")),

    // Checkpoint recovery — the exactly-once restart contract: the query
    // processes two slices, TERMINATES, a third slice lands, and a new
    // query instance resumes from the SAME checkpoint. The file-source
    // offset log replays nothing and skips nothing, so the final sink
    // equals the batch aggregate over all three slices (oracle). This is
    // the property that makes a 100 TB/day ingest restartable after any
    // failure or deploy.
    Q(
      "stream_checkpoint_recovery",
      (s, dir) => {
        val root = Scratch.fresh("stream_checkpoint_recovery")
        val shared = slicesIn(s, dir)
        val sink = s"$root/sink"
        def land(i: Int): Unit =
          landSlice(Paths.get(shared, s"slice$i.parquet"), root, s"slice$i", i)
        def run(): Unit =
          drive(fileStream(s, dir, s"$root/in"), s"$root/ckpt")(_.foreachBatch {
            (batch: DataFrame, _: Long) =>
              batch.write.mode("append").parquet(sink)
          })
        // Phase 1: two slices land, query runs to completion and stops.
        land(0); land(1)
        run()
        // Phase 2: a third slice lands; a NEW query instance resumes from
        // the same checkpoint and processes only the unseen file.
        land(2)
        run()
        s.read.parquet(sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"),
            countDistinct("event_id").as("n_distinct_events"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
               count(DISTINCT event_id) AS n_distinct_events
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Watermarked tumbling-window agg in append mode: a window only emits
    // once the 10-min watermark passes its end, and state for emitted
    // windows is dropped — the mechanism that bounds state at scale.
    // Time-ordered slices ⇒ nothing is late ⇒ every window up to the final
    // watermark emits; AvailableNow's finalizing batch flushes the rest.
    Q(
      "stream_watermark_agg",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_watermark_agg")
        drive(ev.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value")),
          s"$root/ckpt")(
          _.outputMode("append").format("memory").queryName("graft_swa"))
        s.table("graft_swa")
          .select(col("w.start").cast("timestamp_ntz").as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("window_start", "event_type")
      },
      // Time-ordered slices ⇒ no event is ever late ⇒ every CLOSED window
      // emits exactly once. Append mode only emits windows whose end the
      // final watermark (max ts − 10 min) has passed; trailing windows stay
      // in state — so the exact batch oracle is the tumbling aggregate
      // restricted to closed windows.
      oracle = Some("""
        WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events)
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events
        WHERE date_trunc('hour', ts) + INTERVAL '1 hour' <= (SELECT w FROM wm)
        GROUP BY 1, 2 ORDER BY window_start, event_type""")),

    // Watermarked SLIDING windows in append mode — the overlap shape
    // the tumbling agg never exercises: every event updates FOUR
    // concurrent window states (1 h window, 15 min slide), so state
    // size is 4× the open-window count and each watermark advance can
    // close several overlapping windows at once. Same closed-region
    // doctrine as stream_watermark_agg: time-ordered slices ⇒ nothing
    // late ⇒ emitted set = the batch sliding aggregate (window_sliding)
    // restricted to windows the final watermark closed.
    Q(
      "stream_sliding_agg",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_sliding_agg")
        drive(ev.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value")),
          s"$root/ckpt")(
          _.outputMode("append").format("memory").queryName("graft_ssl"))
        s.table("graft_ssl")
          .select(col("w.start").cast("timestamp_ntz").as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("window_start", "event_type")
      },
      oracle = Some("""
        WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events)
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - k * INTERVAL '15 minutes' AS window_start,
               event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
        GROUP BY 1, 2
        HAVING time_bucket(INTERVAL '15 minutes', ts)
                 - k * INTERVAL '15 minutes' + INTERVAL '1 hour'
                 <= (SELECT w FROM wm)
        ORDER BY window_start, event_type""")),

    // Watermarked SESSION windows in append mode — the streaming
    // counterpart of window_session, and the state-merge mechanism the
    // tumbling agg never exercises: a session's state is an OPEN
    // interval that extends (or merges with a neighbor session) every
    // time an in-gap event arrives, and it only emits once the
    // watermark proves no future event can extend it (watermark ≥ last
    // event + gap). Time-ordered slices ⇒ nothing is late ⇒ the emitted
    // set is exactly the batch sessionization restricted to sessions
    // CLOSED by the final watermark (max ts − 10 min) — which is what
    // the oracle computes via gaps-and-islands. At 100 TB state is one
    // (start, end, agg) triple per OPEN session per user — bounded by
    // the gap × arrival rate, evicted at emission — not per-event
    // state; this is the canonical "user activity feed → session facts"
    // ingest shape.
    Q(
      "stream_session_window",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_session_window")
        drive(ev.withWatermark("ts", "10 minutes")
          .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(sum("value"), 4).as("sum_value")), s"$root/ckpt")(
          _.outputMode("append").format("memory").queryName("graft_ssw"))
        s.table("graft_ssw")
          .select(col("user_id"),
            col("sw.start").cast("timestamp_ntz").as("session_start"),
            col("sw.end").cast("timestamp_ntz").as("session_end"),
            col("n_events"), col("sum_value"))
          .orderBy("user_id", "session_start")
      },
      // Same closed-region doctrine as stream_watermark_agg: append mode
      // emits a session only once the final watermark (max ts − 10 min)
      // is at or past its end (last event + 30-min gap); later sessions
      // remain open in state. The oracle rebuilds batch sessions with
      // the >=-gap islands rule and keeps the closed ones.
      oracle = Some("""
        WITH x AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        y AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess
          FROM x),
        s AS (
          SELECT user_id, min(ts) AS session_start,
                 max(ts) + INTERVAL '30 minutes' AS session_end,
                 count(*) AS n_events, round(sum(value), 4) AS sum_value
          FROM y GROUP BY user_id, sess)
        SELECT user_id, session_start, session_end, n_events, sum_value
        FROM s
        WHERE session_end <=
          (SELECT max(ts) - INTERVAL '10 minutes' FROM events)
        ORDER BY user_id, session_start""")),

    // HLL distinct sketch INSIDE a streaming aggregation — the mergeable-
    // summary payoff made visible: registers merge by element-wise max
    // (commutative, associative, idempotent), so the estimate is a pure
    // function of the input SET, independent of micro-batch slicing.
    // The op proves it in-row: each closed window carries the streamed
    // estimate, the batch-recomputed estimate, and the exact count — the
    // sketch_parity flag must be TRUE everywhere (asserted in
    // StreamingSpec too). No oracle: DuckDB cannot replay the register
    // algebra; the exact column is the accuracy reference. At 100 TB
    // this is the shape that gives streaming distinct-counts with O(2^p)
    // state per group instead of per-user state.
    Q(
      "stream_hll_distinct",
      (s, dir) => {
        val (stream, root) = sliceStream(s, dir, "stream_hll_distinct")
        drive(stream.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(graft.api.Sketches.hllCountDistinct(col("user_id"), 12)
            .as("hll_users")), s"$root/ckpt")(
          _.outputMode("append").format("memory").queryName("graft_shd"))
        val streamed = s.table("graft_shd")
          .select(col("w.start").cast("timestamp_ntz").as("day_start"),
            col("event_type"), col("hll_users"))
        val ev = Tables.events(s, dir)
        // unix_micros, NOT getTimestamp.getTime*1000: ts genuinely carries
        // sub-millisecond precision, and a wm truncated up to 999 µs low
        // could silently exclude a closed window from the parity audit.
        val wm = ev.agg(max(unix_micros(col("ts")))).first().getLong(0)
        val batch = ev
          .withColumn("day_start",
            date_trunc("day", col("ts")).cast("timestamp_ntz"))
          .filter(unix_micros(col("day_start").cast("timestamp")) +
            86400000000L <= wm - 600000000L)
          .groupBy("day_start", "event_type")
          .agg(graft.api.Sketches.hllCountDistinct(col("user_id"), 12)
            .as("hll_users_batch"),
            countDistinct("user_id").as("exact_users"))
        streamed.join(batch, Seq("day_start", "event_type"))
          .withColumn("sketch_parity",
            col("hll_users") === col("hll_users_batch"))
          .orderBy("day_start", "event_type")
      },
      // Oracle (round 11): the owned HLL is portable (SplitMix64), so
      // the per-closed-window estimates replay through Udx.hllCtes; the
      // closed-window set is the same watermark arithmetic the query's
      // own batch leg uses (window end ≤ max ts − 10 min), and
      // streamed-vs-batch parity is the engine-checked TRUE.
      oracle = Some(s"""
        WITH ${Udx.hllCtes("",
          """SELECT DISTINCT
                    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
                    event_type, user_id AS v FROM events""",
          "day_start, event_type")},
        wm AS (SELECT max(epoch_us(ts)) AS wm FROM events),
        ex AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
                 event_type, count(DISTINCT user_id) AS exact_users
          FROM events GROUP BY 1, 2)
        SELECT h.day_start, h.event_type, h.hll_users,
               h.hll_users AS hll_users_batch,
               CAST(ex.exact_users AS BIGINT) AS exact_users,
               true AS sketch_parity
        FROM hll h
        JOIN ex ON ex.day_start = h.day_start
          AND ex.event_type = h.event_type
        CROSS JOIN wm
        WHERE epoch_us(h.day_start) + 86400000000 <= wm.wm - 600000000
        ORDER BY h.day_start, h.event_type""")),

    // Streaming dedup within the watermark: first event per (user_id,
    // event_type) while the key's state lives; counts the survivors.
    Q(
      "stream_dedup",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_dedup")
        val sink = s"$root/sink"
        // Emit-on-arrival: dropDuplicates emits survivors as they arrive,
        // so `settingsFor` skips the trailing no-data batch (it would only
        // evict state) and the oracle's 3-batch replay stays exact.
        drive(ev.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("user_id", "event_type"),
          s"$root/ckpt")(_.foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(sink)
          })
        s.read.parquet(sink)
          .groupBy("event_type").agg(count(lit(1)).as("n_kept"))
          .orderBy("event_type")
      },
      // Oracle (round 11): the 3-batch watermark state machine replayed
      // unrolled — the last streaming-state key to gain one. The replay
      // encodes Spark 4.1's dropDuplicatesWithinWatermark lifecycle
      // exactly as driven here (AvailableNow, one slice file per batch
      // in pinned mtime order):
      //   * batch assignment = cutSlices' fixed ts ranges;
      //   * kept-per-(key, batch) = the FIRST row in file order (a
      //     single-file batch through a hash exchange preserves per-key
      //     file order, and events parquet is event_id-ordered);
      //   * state lookup does NOT check expiry (the executor drops on
      //     bare key existence); eviction runs at the END of each batch
      //     with that batch's one-batch-lagged watermark, so ALL
      //     batch-0 keys block batch 1, and batch 2 is blocked by k1
      //     plus the k0 tail with ts + 1h >= wm1 = max(ts, batch 0)
      //     - 1h;
      //   * a dropped duplicate never refreshes state.
      // Verified against the engine at sf0.001 AND sf0.01 (the 0.01
      // counts 296/295 discriminate: naive per-batch distinct or
      // expiry-checked lookup both give different totals).
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_type, ts, event_id,
                 CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 0
                      WHEN ts < TIMESTAMP '2024-01-21' THEN 1
                      ELSE 2 END AS b
          FROM events),
        f AS (
          SELECT user_id, event_type, ts, b FROM (
            SELECT user_id, event_type, ts, b,
                   row_number() OVER (PARTITION BY user_id, event_type, b
                     ORDER BY event_id) AS rn
            FROM e) WHERE rn = 1),
        wm AS (SELECT
          (SELECT max(ts) FROM e WHERE b = 0) - INTERVAL 1 HOUR AS wm1),
        k0 AS (SELECT user_id, event_type, ts FROM f WHERE b = 0),
        k1 AS (
          SELECT f.user_id, f.event_type, f.ts
          FROM f LEFT JOIN k0
            ON k0.user_id = f.user_id AND k0.event_type = f.event_type
          WHERE f.b = 1 AND k0.user_id IS NULL),
        s2 AS (
          SELECT user_id, event_type FROM k1
          UNION
          SELECT k0.user_id, k0.event_type FROM k0 CROSS JOIN wm
          WHERE k0.ts + INTERVAL 1 HOUR >= wm.wm1),
        k2 AS (
          SELECT f.user_id, f.event_type, f.ts
          FROM f LEFT JOIN s2
            ON s2.user_id = f.user_id AND s2.event_type = f.event_type
          WHERE f.b = 2 AND s2.user_id IS NULL),
        kept AS (
          SELECT event_type FROM k0
          UNION ALL SELECT event_type FROM k1
          UNION ALL SELECT event_type FROM k2)
        SELECT event_type, count(*) AS n_kept
        FROM kept GROUP BY 1 ORDER BY 1""")),

    // Stream ⋈ static-dimension enrichment: the static side is planned as a
    // broadcast per micro-batch (no state), the canonical cheap enrich.
    Q(
      "stream_static_join",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_static_join")
        val weights = s.createDataFrame(Seq(
          ("click", 1.0), ("view", 0.5), ("purchase", 5.0),
          ("signup", 3.0), ("error", 0.0)))
          .toDF("event_type", "weight")
        drive(ev.join(weights, "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value") * col("weight")), 4).as("weighted_value")),
          s"$root/ckpt")(
          _.outputMode("complete").format("memory").queryName("graft_ssj"))
        s.table("graft_ssj").orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n,
               round(sum(value * CASE event_type
                 WHEN 'click' THEN 1.0 WHEN 'view' THEN 0.5
                 WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0
                 ELSE 0.0 END), 4) AS weighted_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Custom per-key state machine via mapGroupsWithState: running purchase
    // count/revenue per user, state carried across micro-batches. The final
    // update per user equals the batch aggregate (oracle) — the streaming
    // exactly-once invariant for monotone state.
    Q(
      "stream_stateful_custom",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_stateful_custom")
        val sp = s
        import sp.implicits._
        val sink = s"$root/sink"
        drive(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("value")).as[(Long, Double)]
          .groupByKey(_._1)
          .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
            GroupStateTimeout.NoTimeout) {
            (uid: Long, rows: Iterator[(Long, Double)],
             state: GroupState[(Long, Double)]) =>
              val (n0, t0) = state.getOption.getOrElse((0L, 0.0))
              var n = n0; var t = t0
              rows.foreach { r => n += 1; t += r._2 }
              state.update((n, t))
              (uid, n, t)
          }, s"$root/ckpt")(_.outputMode("update")
          // Update-mode batches append to a batchId-stamped parquet sink
          // (executor-side, distributed); the final per-key update is then
          // the max-batch row on re-read — no data ever visits the driver.
          .foreachBatch { (batch: Dataset[(Long, Long, Double)], batchId: Long) =>
            batch.toDF("user_id", "n_purchases", "total")
              .withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(sink)
          })
        // One row per (user, batch) ⇒ the latest batch per user is the
        // final state — a standard last-update-per-key window on re-read.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(desc("batch_id"))
        s.read.parquet(sink)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("n_purchases"),
            round(col("total"), 4).as("total"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, count(*) AS n_purchases,
               round(sum(value), 4) AS total
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id ORDER BY user_id""")),

    // Spark 4 transformWithState (the successor to mapGroupsWithState):
    // typed ValueState in the RocksDB state store, per-user count + max.
    // Monotone state ⇒ final update per user equals the batch aggregate.
    Q(
      "stream_transform_with_state",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_transform_with_state")
        val sp = s
        import sp.implicits._
        val sink = s"$root/sink"
        // `settingsFor` sets the RocksDB state store provider that
        // transformWithState requires.
        drive(ev.select(col("user_id"), col("value")).as[(Long, Double)]
          .groupByKey(_._1)
          .transformWithState(new UserStatsProcessor,
            TimeMode.None(), OutputMode.Update()), s"$root/ckpt")(
          _.outputMode("update")
          // Same distributed last-update-per-key pattern as
          // stream_stateful_custom: append batchId-stamped updates to
          // parquet, resolve the final row per key on re-read.
          .foreachBatch {
            (batch: Dataset[(Long, Long, Double)], batchId: Long) =>
              batch.toDF("user_id", "n_events", "max_value")
                .withColumn("batch_id", lit(batchId))
                .write.mode("append").parquet(sink)
          })
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(desc("batch_id"))
        s.read.parquet(sink)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("n_events"),
            round(col("max_value"), 4).as("max_value"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, count(*) AS n_events,
               round(max(value), 4) AS max_value
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // Stream–stream inner join with event-time range: signups matched to
    // the same user's purchases within the following 24 h. Both sides carry
    // watermarks so each side's join state is evicted once the other
    // side's watermark passes the range bound — the mechanism that keeps
    // stream-stream join state finite at scale. Inner join + time-ordered
    // arrival ⇒ the match set equals the batch join (oracle).
    Q(
      "stream_stream_join",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_stream_join")
        def side(tpe: String, pfx: String) =
          ev.filter(col("event_type") === tpe)
            .select(col("user_id").as(s"${pfx}_user"),
              col("ts").as(s"${pfx}_ts"), col("value").as(s"${pfx}_value"))
            .withWatermark(s"${pfx}_ts", "1 hour")
        val joined = side("signup", "s").join(side("purchase", "p"),
          col("s_user") === col("p_user") &&
            col("p_ts") >= col("s_ts") &&
            col("p_ts") <= col("s_ts") + expr("INTERVAL 24 HOURS"))
        val sink = s"$root/sink"
        // INNER stream-stream join: matches emit as rows arrive, so
        // `settingsFor` skips the no-data batch, which would only evict
        // watermark-expired buffers (the LEFT join below keeps it: its
        // flush emits the null-padded unmatched rows).
        drive(joined, s"$root/ckpt")(_.foreachBatch {
          (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(sink)
        })
        s.read.parquet(sink)
          .groupBy(col("s_user").as("user_id"))
          .agg(count(lit(1)).as("n_matches"),
            round(sum("p_value"), 4).as("sum_purchase_value"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT s.user_id AS user_id, count(*) AS n_matches,
               round(sum(p.value), 4) AS sum_purchase_value
        FROM events s JOIN events p
          ON s.user_id = p.user_id
         AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '24 hours'
        WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
        GROUP BY s.user_id ORDER BY user_id"""))
  ) ++ Seq(
    // Stream–stream LEFT OUTER join: signups with-or-WITHOUT a purchase
    // in the following 24 h — the no-conversion detector, and the join
    // whose semantics are genuinely streaming-specific: a null-padded
    // row can only be emitted once the WATERMARK proves the window
    // closed (inner matches emit eagerly; absence needs a proof). Two
    // consequences shape the query:
    //   1. withWatermark sits BEFORE the event-type filter on each
    //      side, so both watermark nodes see every event and the global
    //      watermark reaches max(ts) − 1 h; filtering first would pin
    //      the signup side's watermark to the last SIGNUP, stalling
    //      eviction (measured: the final watermark is the MIN across
    //      watermark nodes).
    //   2. The left side keeps only signups whose 24 h window is
    //      provably closed at end-of-stream (ts ≤ max − 30 h, a 5 h
    //      margin past window + delay): for anything younger, "no
    //      purchase yet" is not yet a fact — exactly the region a
    //      production job leaves for the next run. The cutoff makes
    //      streamed = batch left join (the oracle) on the closed region.
    // State: both sides evict once the opposite watermark passes the
    // range bound, so join state is bounded by 25 h of arrivals at any
    // scale.
    Q(
      "stream_stream_left_join",
      (s, dir) => {
        val (ev, root) = sliceStream(s, dir, "stream_stream_left_join")
        val maxTs = Tables.events(s, dir)
          .agg(max("ts")).first().getTimestamp(0)
        val cutoff = new java.sql.Timestamp(
          maxTs.getTime - 30L * 3600 * 1000)
        def side(tpe: String, pfx: String) =
          ev.withWatermark("ts", "1 hour")
            .filter(col("event_type") === tpe)
            .select(col("user_id").as(s"${pfx}_user"),
              col("ts").as(s"${pfx}_ts"), col("value").as(s"${pfx}_value"))
        val joined = side("signup", "s")
          .filter(col("s_ts") <= lit(cutoff))
          .join(side("purchase", "p"),
            col("s_user") === col("p_user") &&
              col("p_ts") >= col("s_ts") &&
              col("p_ts") <= col("s_ts") + expr("INTERVAL 24 HOURS"),
            "left_outer")
        val sink = s"$root/sink"
        // OUTER join: the watermark-driven flush EMITS the null-padded
        // unmatched signups, so `settingsFor` keeps the trailing no-data
        // batch (unlike the inner join).
        drive(joined, s"$root/ckpt")(_.foreachBatch {
          (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(sink)
        })
        s.read.parquet(sink)
          .groupBy(col("s_user").as("user_id"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("p_value")).as("n_matched"),
            round(coalesce(sum("p_value"), lit(0.0)), 4)
              .as("sum_purchase_value"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH mx AS (SELECT max(ts) AS mts FROM events),
        s AS (SELECT user_id, ts FROM events, mx
              WHERE event_type = 'signup'
                AND ts <= mts - INTERVAL '30 hours'),
        p AS (SELECT user_id, ts, value FROM events
              WHERE event_type = 'purchase'),
        j AS (SELECT s.user_id, p.value AS pv
              FROM s LEFT JOIN p ON s.user_id = p.user_id
               AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '24 hours')
        SELECT user_id, count(*) AS n_rows,
               CAST(count(pv) AS BIGINT) AS n_matched,
               round(coalesce(sum(pv), 0), 4) AS sum_purchase_value
        FROM j GROUP BY user_id ORDER BY user_id"""))
  )
}
