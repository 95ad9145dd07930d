package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{Streaming, UserStatsProcessor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, TimeMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming semantics: watermark late-data drop with
  * deliberately out-of-order slices, and stream ≡ batch for windowed aggs
  * when arrival is time-ordered (SURVEY.md §5.4); the settings
  * `Streaming.drive` reads off a plan, and the guard that keeps every
  * stream key's checkpoint and trigger inside `drive`.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private val codegen = "spark.sql.codegen.wholeStage"
  private val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val provider = "spark.sql.streaming.stateStore.providerClass"

  /** (whole-stage codegen, no-data batches, RocksDB provider) for `q`. */
  private def settings(q: DataFrame): (Boolean, Boolean, Boolean) = {
    val m = Streaming.settingsFor(q.queryExecution.analyzed).toMap
    (m(codegen).toBoolean, m(noData).toBoolean,
      m.get(provider).exists(_.endsWith("RocksDBStateStoreProvider")))
  }

  /** A rate stream: (timestamp, value) rows, never started here. */
  private def rate: DataFrame = spark.readStream.format("rate").load()

  private def watermarked: DataFrame =
    rate.withWatermark("timestamp", "10 minutes")

  test("settingsFor: a plan without a watermark or group state keeps codegen and the no-data batch") {
    assert(settings(rate.select(col("value") * 2)) == ((true, true, false)))
    assert(settings(rate.groupBy(col("value") % 10).count()) ==
      ((true, true, false)), "complete aggregate without a watermark")
    val static = spark.range(10).toDF("value")
    assert(settings(rate.join(static, "value")) == ((true, true, false)),
      "stream-static join")
  }

  test("settingsFor: watermark aggregates and session windows keep the no-data batch, without codegen") {
    assert(settings(watermarked
      .groupBy(window(col("timestamp"), "1 hour")).count()) ==
      ((false, true, false)))
    assert(settings(watermarked
      .groupBy(session_window(col("timestamp"), "30 minutes")).count()) ==
      ((false, true, false)))
  }

  test("settingsFor: emit-on-arrival dedup and inner stream joins skip the no-data batch") {
    assert(settings(watermarked.dropDuplicatesWithinWatermark("value")) ==
      ((false, false, false)))
    assert(settings(watermarked.dropDuplicates("value", "timestamp")) ==
      ((false, false, false)))
    def side(p: String) = watermarked
      .select(col("value").as(s"${p}_v"), col("timestamp").as(s"${p}_ts"))
    val on = col("l_v") === col("r_v") &&
      col("r_ts").between(col("l_ts"), col("l_ts") + expr("INTERVAL 1 HOUR"))
    assert(settings(side("l").join(side("r"), on)) == ((false, false, false)))
    assert(settings(side("l").join(side("r"), on, "left_outer")) ==
      ((false, true, false)), "the outer join's flush emits null-padded rows")
    // One aggregate beside the dedup is enough to keep the flush.
    assert(settings(watermarked.dropDuplicatesWithinWatermark("value")
      .groupBy(window(col("timestamp"), "1 hour")).count()) ==
      ((false, true, false)))
  }

  test("settingsFor: group state turns codegen off; transformWithState gets RocksDB") {
    val sp = spark
    import sp.implicits._
    val keyed = rate.select(col("value"), col("value").cast("double"))
      .as[(Long, Double)].groupByKey(_._1)
    val mapped = keyed.mapGroupsWithState[Long, (Long, Long)](
      GroupStateTimeout.NoTimeout) {
      (k: Long, rows: Iterator[(Long, Double)], st: GroupState[Long]) =>
        st.update(rows.size.toLong); (k, st.get)
    }
    assert(settings(mapped.toDF()) == ((false, true, false)))
    val tws = keyed.transformWithState(new UserStatsProcessor,
      TimeMode.None(), OutputMode.Update())
    assert(settings(tws.toDF()) == ((false, true, true)))
  }

  test("settingsFor: a graft-log V2 stream aggregate runs with codegen") {
    val q = spark.readStream.format("graft-log")
      .load(operators.DsV2.topic(spark, sf0001))
      .groupBy("partition").count()
    assert(settings(q) == ((true, true, false)))
  }

  test("only Streaming.drive sets a stream's trigger or checkpoint under src/main/scala/graft/operators") {
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val set = """Trigger\.AvailableNow|"checkpointLocation"""".r
    val hits = scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.flatMap { (p: Path) =>
      val lines = Files.readAllLines(p).asScala.toSeq
      // drive's body: from its `def` line to the next blank line.
      val inDrive: Int => Boolean =
        if (p.getFileName.toString != "Streaming.scala") _ => false
        else {
          val from = lines.indexWhere(_.contains("def drive["))
          val to = lines.indexWhere(_.trim.isEmpty, from)
          i => from >= 0 && i >= from && i < to
        }
      lines.zipWithIndex.collect {
        case (line, i) if set.findFirstIn(line.replaceAll("//.*", "")).isDefined &&
            !line.trim.startsWith("*") && !inDrive(i) =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty,
      "start stream queries through Streaming.drive:\n" + hits.mkString("\n"))
  }

  /** Write each slice DataFrame as one parquet file, in order. */
  private def writeSlices(key: String, slices: Seq[DataFrame]): (String, String) = {
    val root = Scratch.fresh(s"test_$key")
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$root/tmp_$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = Paths.get(in, s"slice$i.parquet")
      Files.copy(part, dst)
      // Distinct, increasing mtimes pin the file source's arrival order.
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    (in, s"$root/ckpt")
  }

  test("watermark drops late data that arrives behind the watermark") {
    val sp = spark
    import sp.implicits._
    val mk = (id: Long, t: String, v: Double) =>
      (id, java.sql.Timestamp.valueOf(t), v)
    // Spark filters late events against the watermark lagged by ONE batch
    // (watermarkForLateEvents), while eviction uses the current one — so
    // the drop needs the advancing batch, a lag batch, then the late row.
    // Verified empirically on 4.1.2 (batch N's late-filter watermark is the
    // watermark computed from batches ≤ N-2).
    val early = Seq(
      mk(1, "2024-01-01 00:10:00", 1.0),
      mk(2, "2024-01-01 08:00:00", 1.0)).toDF("id", "ts", "v")
    val lag = Seq(mk(9, "2024-01-01 08:01:00", 1.0)).toDF("id", "ts", "v")
    val late = Seq(
      mk(3, "2024-01-01 00:20:00", 100.0), // late into closed 00:00 window
      mk(4, "2024-01-01 08:05:00", 1.0)).toDF("id", "ts", "v")
    // Final slice advances the watermark past the 08:00 window so it emits.
    val fin = Seq(mk(5, "2024-01-01 12:00:00", 1.0)).toDF("id", "ts", "v")
    val (in, ckpt) = writeSlices("late_drop", Seq(early, lag, late, fin))
    val q = spark.readStream.schema(early.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(sum("v").as("sum_v"))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_test_late").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val res = spark.table("graft_test_late")
      .select(col("w.start").cast("string").as("start"), col("sum_v"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // The 00:00 window must contain only the on-time row (1.0) — the late
    // 100.0 is dropped; the 08:00 window keeps its three on-time rows.
    assert(res("2024-01-01 00:00:00") == 1.0, res.toString)
    assert(res("2024-01-01 08:00:00") == 3.0, res.toString)
  }

  test("streamed tumbling agg equals batch agg under time-ordered arrival") {
    val batch = SparkEntry.queries("window_tumbling")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val streamed = SparkEntry.queries("stream_file_source")(spark, sf0001)
    // stream_file_source aggregates per event_type (complete mode); compare
    // against the batch equivalent computed directly.
    val expect = Tables.events(spark, sf0001)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type").collect().map(_.toString).toSeq
    assert(streamed.collect().map(_.toString).toSeq == expect)
    assert(batch.nonEmpty)
  }

  test("stateful per-user totals equal the batch aggregate") {
    val got = SparkEntry.queries("stream_stateful_custom")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect)
  }

  test("streamed HLL sketch equals the batch sketch on every closed window") {
    val rows = SparkEntry.queries("stream_hll_distinct")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("sketch_parity"),
        s"micro-batch slicing changed a register merge: $r")
      // and the estimate must actually be close to exact (p=12 ⇒ ~1.6%)
      val est = r.getAs[Long]("hll_users")
      val exact = r.getAs[Long]("exact_users")
      assert(math.abs(est - exact) <= math.max(3L, exact / 10),
        s"estimate $est too far from exact $exact")
    }
  }

  test("stream-stream left join emits the null-padded no-purchase rows") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("stream_stream_left_join")(spark, sf0001)
      .collect()
    assert(out.nonEmpty)
    // The outer half is the point: users whose signup window closed with
    // no purchase must appear with n_matched < n_rows (a null-padded row
    // needs a watermark proof — an inner join could never produce it).
    assert(out.exists(r => r.getAs[Long]("n_matched") <
      r.getAs[Long]("n_rows")), "no outer rows emitted")
    // Streamed totals equal the batch left join on the closed region.
    val ev = Tables.events(spark, sf0001)
    val maxTs = ev.agg(max("ts")).first().getTimestamp(0)
    val cutoff = new java.sql.Timestamp(maxTs.getTime - 30L * 3600 * 1000)
    val s = ev.filter(col("event_type") === "signup" &&
      col("ts") <= lit(cutoff)).select(col("user_id").as("su"), col("ts").as("st"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pt"))
    val batch = s.join(p, col("su") === col("pu") &&
        col("pt") >= col("st") &&
        col("pt") <= col("st") + expr("INTERVAL 24 HOURS"), "left_outer")
      .agg(count(lit(1)), count(col("pu"))).first()
    assert(out.map(_.getAs[Long]("n_rows")).sum == batch.getLong(0))
    assert(out.map(_.getAs[Long]("n_matched")).sum == batch.getLong(1))
  }

  test("stream_session_window emits only watermark-closed sessions") {
    val emitted = SparkEntry.queries("stream_session_window")(spark, sf0001)
    val batchSessions =
      SparkEntry.queries("window_session")(spark, sf0001).count()
    val n = emitted.count()
    // The append-mode boundary must be non-vacuous: the user owning the
    // max-ts event ALWAYS has an open session at the horizon (its end =
    // last event + 30 min > final watermark = max ts − 10 min), so the
    // emitted set is a strict subset of the batch sessionization…
    assert(n < batchSessions, s"no open tail: $n vs $batchSessions")
    assert(n > 0, "no sessions emitted at all")
    // …and every emitted session is genuinely closed: its end is at or
    // before the final watermark.
    val ev = Tables.events(spark, sf0001)
    val maxTs = ev.agg(max("ts")).first().getTimestamp(0)
    val wm = new java.sql.Timestamp(maxTs.getTime - 10L * 60 * 1000)
    assert(emitted.filter(
        col("session_end").cast("timestamp") > lit(wm)).count() == 0,
      "emitted a session the watermark had not closed")
  }

  test("streamed sliding agg equals batch sliding agg on closed windows") {
    val ev = Tables.events(spark, sf0001)
    val maxTs = ev.agg(max("ts")).first().getTimestamp(0)
    val wm = new java.sql.Timestamp(maxTs.getTime - 10L * 60 * 1000)
    val closedBatch = SparkEntry.queries("window_sliding")(spark, sf0001)
      .filter(col("window_start").cast("timestamp")
        + expr("INTERVAL 1 HOUR") <= lit(wm))
      .collect().map(_.toString).toSet
    val streamed = SparkEntry.queries("stream_sliding_agg")(spark, sf0001)
      .collect().map(_.toString).toSet
    assert(streamed == closedBatch,
      s"streamed ${streamed.size} vs closed batch ${closedBatch.size}")
    assert(streamed.nonEmpty, "no closed sliding windows emitted")
    // Overlap sanity: sliding emits ~4x the tumbling closed-window rows.
    val tumbling = SparkEntry.queries("stream_watermark_agg")(spark, sf0001)
      .count()
    assert(streamed.size > 2 * tumbling,
      s"sliding (${streamed.size}) should far exceed tumbling ($tumbling)")
  }
}
