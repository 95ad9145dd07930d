package graft.operators

import graft.{Q, QueryModule, Scratch, Stored, Tables, Warm}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.A — the `graft-log` DataSource V2 surface (graft.sources.GraftLog):
  * the engine's Kafka-shaped ingestion front door, exercised end-to-end
  * through the registry.
  *
  * Everything here flows through the connector's own V2 commit protocol:
  * the fixture topic is MATERIALIZED by the V2 writer (staged segments →
  * driver rename → atomic `_meta` swap), then read back through the V2
  * batch scan (`scan_dsv2_log`), the V2 micro-batch stream with admission
  * control (`stream_dsv2_source`), and an out-of-order two-batch append
  * (`sink_dsv2_log`) whose per-record (offset, key) assignment is
  * certified by an order-independent XOR digest — the dq_table_checksum
  * attestation pattern applied to a connector.
  *
  * Offset determinism (what makes a custom source ORACLE-able at all):
  * the fixture repartitions by the log partition column — every log
  * partition lands wholly in one writer task — and sorts within tasks by
  * numeric key, so the committed offset of a record is exactly
  * `row_number() OVER (PARTITION BY p ORDER BY key)` − 1, which DuckDB
  * replays. The stream and batch scans must then agree with that closed
  * form record-for-record.
  */
object DsV2 extends QueryModule {

  /** Topic fixture: one committed graft-log topic per (JVM, sfDir) —
    * events re-keyed as (partition = user_id mod 4, key = event_id,
    * value = event_type, ts = epoch µs), written once via the V2 writer.
    */
  private[graft] def topic(s: SparkSession, dir: String): String =
    topicMeta(s, dir)._1

  /** Topic path plus its committed row count. The count sizes the bench-path
    * admission control (`triggerFor`) so the AvailableNow drain costs a
    * bounded number of micro-batches at any sf, instead of O(rows/2048)
    * checkpoint+state rewrites (11.5 s at sf0.1 under the old constant).
    */
  private[graft] def topicMeta(s: SparkSession, dir: String): (String, Long) =
    Warm.disk("dsv2_topic", dir) { root =>
      val out = s"$root/log"
      val lf = logFrame(s, dir)
      lf.write.format("graft-log").mode("append").save(out)
      (out, s.read.format("graft-log").load(out).count())
    }

  /** Registry-path trigger size: ~4 micro-batches over the whole topic
    * (floor 2048 keeps the multi-batch admission-control path exercised at
    * the smallest sf). DsV2Spec keeps the fixed 2048 constant where
    * exact-allocation splitting is the assertion itself.
    */
  private def triggerFor(rows: Long): Long =
    math.max(2048L, (rows + 3) / 4)

  /** Seek fixture: the same log, committed as FOUR chunked appends (keys by
    * `event_id mod 4`, in chunk order) → 4 segments per partition, so an
    * offset-range predicate can prove whole segments irrelevant from
    * `_meta` row counts alone. Offsets follow `row_number OVER (PARTITION
    * BY p ORDER BY event_id % 4, event_id) − 1`.
    */
  private[graft] def seekTopic(s: SparkSession, dir: String): String =
    Warm.disk("dsv2_seek_topic", dir) { root =>
      val out = s"$root/log"
      (0 until 4).foreach { m =>
        Tables.events(s, dir)
          .filter(col("event_id") % 4 === m)
          .select(pmod(col("user_id"), lit(4)).cast("int").as("partition"),
            col("event_id").cast("string").as("key"),
            col("event_type").as("value"),
            unix_micros(col("ts")).as("ts"))
          .repartition(4, col("partition"))
          .sortWithinPartitions(col("partition"), col("key").cast("long"))
          .write.format("graft-log").mode("append").save(out)
      }
      out
    }

  /** The events table in log shape, one-task-per-partition and key-sorted
    * (see class doc: this is what pins committed offsets to the oracle's
    * row_number closed form).
    */
  private def logFrame(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(pmod(col("user_id"), lit(4)).cast("int").as("partition"),
        col("event_id").cast("string").as("key"),
        col("event_type").as("value"),
        unix_micros(col("ts")).as("ts"))
      .repartition(4, col("partition"))
      .sortWithinPartitions(col("partition"), col("key").cast("long"))

  /** Engine-portable 60-bit record fingerprint (md5 prefix), XOR-foldable. */
  private def recHash(off: org.apache.spark.sql.Column,
      key: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(off.cast("string"), lit(":"), key)), 1, 15),
      16, 10).cast("long")

  def all: Seq[Q] = Seq(
    // V2 batch scan over the committed topic: per (partition, event_type)
    // the count, distinct keys, offset span, and last event time. min/max
    // offsets certify the connector's offset assignment (dense from 0 per
    // partition, ordered by numeric key) against the oracle's row_number
    // closed form — not just row contents.
    Q(
      "scan_dsv2_log",
      (s, dir) => {
        val t = topic(s, dir)
        s.read.format("graft-log").load(t)
          .groupBy(col("partition"), col("value").as("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("key")).as("n_keys"),
            min("offset").as("min_off"), max("offset").as("max_off"),
            max("ts").as("max_ts_us"))
          .orderBy("partition", "event_type")
      },
      oracle = Some("""
        WITH log AS (
          SELECT user_id % 4 AS partition,
                 row_number() OVER (PARTITION BY user_id % 4
                                    ORDER BY event_id) - 1 AS off,
                 CAST(event_id AS VARCHAR) AS key,
                 event_type AS value, epoch_us(ts) AS ts
          FROM events)
        SELECT partition, value AS event_type, count(*) AS n,
               count(DISTINCT key) AS n_keys,
               min(off) AS min_off, max(off) AS max_off,
               max(ts) AS max_ts_us
        FROM log GROUP BY 1, 2 ORDER BY partition, event_type""")),

    // Kafka's seek-by-offset idiom through V2 filter pushdown: the range
    // predicate on `offset` reaches LogScanBuilder, which skips every
    // segment whose `_meta`-derived offset span misses [100, 600) — the
    // scan reads O(selected) segments, not O(topic) (DsV2Spec asserts
    // segmentsOpened < total via the seek fixture's 16 segments). Spark
    // still re-applies the predicate post-scan, so pruning can only skip
    // provably-empty files, never change the answer.
    Q(
      "scan_dsv2_seek",
      (s, dir) => {
        val t = seekTopic(s, dir)
        s.read.format("graft-log").load(t)
          .filter(col("offset") >= 100 && col("offset") < 600)
          .groupBy("partition")
          .agg(count(lit(1)).as("n"),
            min("offset").as("min_off"), max("offset").as("max_off"),
            bit_xor(recHash(col("offset"), col("key"))).as("xor_digest"))
          .orderBy("partition")
      },
      oracle = Some("""
        WITH log AS (
          SELECT user_id % 4 AS partition,
                 row_number() OVER (PARTITION BY user_id % 4
                                    ORDER BY event_id % 4, event_id) - 1 AS off,
                 CAST(event_id AS VARCHAR) AS key
          FROM events)
        SELECT partition, count(*) AS n,
               min(off) AS min_off, max(off) AS max_off,
               bit_xor(('0x' || substring(md5(off || ':' || key), 1, 15))::BIGINT)
                 AS xor_digest
        FROM log WHERE off >= 100 AND off < 600
        GROUP BY 1 ORDER BY partition""")),

    // V2 COMPLETE aggregate pushdown (SupportsPushDownAggregates): the
    // count/min(ts)/max(ts) per partition come straight from the topic's
    // `_meta` manifests — segment row counts and exact per-segment ts
    // spans — so the query plan has NO aggregate at all (BatchScan
    // GraftLogAggScan + Project) and ZERO segment files are opened
    // (DsV2Spec pins segmentsOpened == 0 and the plan shape). This is the
    // log-source analogue of parquet's metadata-only count
    // (scan_parquet_metadata): at 100 TB the answer costs one manifest
    // read per partition, not a topic scan. The source refuses the
    // pushdown (falls back to the ordinary scan — never a wrong answer)
    // whenever filters were pushed, an unsupported aggregate appears, or
    // an old segment lacks ts bounds.
    Q(
      "scan_dsv2_agg_pushdown",
      (s, dir) => {
        val t = topic(s, dir)
        s.read.format("graft-log").load(t)
          .groupBy("partition")
          .agg(count(lit(1)).as("n"),
            min("ts").as("min_ts_us"), max("ts").as("max_ts_us"))
          .orderBy("partition")
      },
      oracle = Some("""
        WITH log AS (
          SELECT user_id % 4 AS partition, epoch_us(ts) AS ts
          FROM events)
        SELECT partition, count(*) AS n,
               min(ts) AS min_ts_us, max(ts) AS max_ts_us
        FROM log GROUP BY 1 ORDER BY partition""")),

    // V2 PARTIAL limit pushdown (SupportsPushDownLimit): `LIMIT n` stops
    // the batch planner after enough segments to cover n rows (greedy in
    // (partition, offset) order), so a bounded peek at a 100 TB topic
    // opens O(n / segment-rows) files, not O(topic) (DsV2Spec pins the
    // opened-file count). Spark re-applies the limit above the scan —
    // partial pushdown can only skip provably-unneeded files, never
    // change the answer — and refuses to push a limit across the
    // re-applied (post-scan) filters, which is what makes raw segment
    // row counts a sound budget. The hash-checked output is the row
    // count the limit admits.
    Q(
      "scan_dsv2_limit_pushdown",
      (s, dir) => {
        val t = topic(s, dir)
        s.read.format("graft-log").load(t)
          .limit(300)
          .agg(count(lit(1)).as("n_rows"))
      },
      oracle = Some("""
        SELECT least(300, count(*)) AS n_rows FROM events""")),

    // V2 micro-batch stream with admission control: maxRecordsPerTrigger
    // splits the drain into several proportional-to-lag batches (DsV2Spec
    // asserts >1 batches and exact allocation); the complete-mode result
    // must equal the batch aggregate no matter how the batches were cut —
    // the exactly-once contract for a custom source. The XOR digest over
    // (offset:key) fingerprints certifies per-record offsets survive
    // batching unchanged.
    Q(
      "stream_dsv2_source",
      (s, dir) => {
        val (t, rows) = topicMeta(s, dir)
        Streaming.drive(s.readStream.format("graft-log")
          .option("maxRecordsPerTrigger", triggerFor(rows))
          .load(t)
          .groupBy("partition")
          // no countDistinct in streaming agg — the XOR digest already
          // certifies the exact (offset, key) multiset per partition
          .agg(count(lit(1)).as("n"), max("offset").as("max_off"),
            bit_xor(recHash(col("offset"), col("key"))).as("xor_digest")),
          s"${Scratch.fresh("stream_dsv2_source")}/ckpt")(
          _.outputMode("complete").format("memory")
            .queryName("graft_dsv2_stream"))
        s.table("graft_dsv2_stream").orderBy("partition")
      },
      oracle = Some("""
        WITH log AS (
          SELECT user_id % 4 AS partition,
                 row_number() OVER (PARTITION BY user_id % 4
                                    ORDER BY event_id) - 1 AS off,
                 CAST(event_id AS VARCHAR) AS key
          FROM events)
        SELECT partition, count(*) AS n, max(off) AS max_off,
               bit_xor(('0x' || substring(md5(off || ':' || key), 1, 15))::BIGINT)
                 AS xor_digest
        FROM log GROUP BY 1 ORDER BY partition""")),

    // Two-batch V2 append (evens land first, then odds): the second commit
    // must CONTINUE each partition's offsets after the first (segment
    // numbering from the republished _meta), so a record's offset is the
    // row_number under (parity, key) order. The XOR digest over every
    // (offset:key) makes the check record-exact without shipping 10k rows
    // through the gate.
    Q(
      "sink_dsv2_log",
      (s, dir) => {
        val out = s"${Scratch.fresh("sink_dsv2_log")}/log"
        val lf = logFrame(s, dir)
        lf.filter(col("key").cast("long") % 2 === 0)
          .write.format("graft-log").mode("append").save(out)
        lf.filter(col("key").cast("long") % 2 === 1)
          .write.format("graft-log").mode("append").save(out)
        s.read.format("graft-log").load(out)
          .groupBy("partition")
          .agg(count(lit(1)).as("n"), max("offset").as("max_off"),
            bit_xor(recHash(col("offset"), col("key"))).as("xor_digest"))
          .orderBy("partition")
      },
      oracle = Some("""
        WITH log AS (
          SELECT user_id % 4 AS partition,
                 row_number() OVER (PARTITION BY user_id % 4
                                    ORDER BY event_id % 2, event_id) - 1 AS off,
                 CAST(event_id AS VARCHAR) AS key
          FROM events)
        SELECT partition, count(*) AS n, max(off) AS max_off,
               bit_xor(('0x' || substring(md5(off || ':' || key), 1, 15))::BIGINT)
                 AS xor_digest
        FROM log GROUP BY 1 ORDER BY partition""")),

    // Log→log replication (the MirrorMaker shape): a micro-batch stream
    // over the source topic, cut into several epochs by admission control,
    // PRODUCED into a destination topic through the native streaming write
    // (per-epoch staged commit + epoch ledger). No shuffle anywhere: rows
    // stay in their reader partition from source segment to destination
    // segment, so destination offsets equal source offsets record-for-
    // record — certified by the same XOR digest closed form. With the
    // source's checkpointed offsets + the sink's idempotent epoch commit,
    // the pipeline is end-to-end exactly-once.
    Q(
      "stream_dsv2_mirror",
      (s, dir) => {
        val (src, rows) = topicMeta(s, dir)
        val root = Scratch.fresh("stream_dsv2_mirror")
        val dst = s"$root/dst"
        Streaming.drive(s.readStream.format("graft-log")
          .option("maxRecordsPerTrigger", triggerFor(rows))
          .load(src)
          .select("partition", "key", "value", "ts"), s"$root/ckpt")(
          _.format("graft-log").option("path", dst))
        s.read.format("graft-log").load(dst)
          .groupBy("partition")
          .agg(count(lit(1)).as("n"), max("offset").as("max_off"),
            bit_xor(recHash(col("offset"), col("key"))).as("xor_digest"))
          .orderBy("partition")
      },
      oracle = Some("""
        WITH log AS (
          SELECT user_id % 4 AS partition,
                 row_number() OVER (PARTITION BY user_id % 4
                                    ORDER BY event_id) - 1 AS off,
                 CAST(event_id AS VARCHAR) AS key
          FROM events)
        SELECT partition, count(*) AS n, max(off) AS max_off,
               bit_xor(('0x' || substring(md5(off || ':' || key), 1, 15))::BIGINT)
                 AS xor_digest
        FROM log GROUP BY 1 ORDER BY partition""")),

    // The VECTORIZED read path: the same topic scanned through
    // option("columnar", "true"), which flips the reader factory to
    // 4096-row ColumnarBatches over on-heap vectors — Spark plans the
    // ColumnarToRow bridge and downstream operators consume dense
    // batches instead of a per-record iterator (the parquet/Tungsten
    // contract, implemented by the connector). Correctness is graded on
    // the same closed-form offsets as the row path: a per-event-type
    // census with an order-independent XOR attestation of every
    // (offset, key) pair — any batching bug (dropped row, stale vector,
    // off-by-one at a 4096 boundary) flips the digest. DsV2Spec
    // additionally pins row-path ≡ columnar-path frame equality and the
    // ColumnarToRow plan shape.
    Q(
      "scan_dsv2_columnar",
      (s, dir) => {
        s.read.format("graft-log").option("columnar", "true")
          .load(topic(s, dir))
          .groupBy("value")
          .agg(count(lit(1)).as("n"),
            countDistinct("partition").as("n_parts"),
            min("offset").as("min_off"), max("offset").as("max_off"),
            bit_xor(recHash(col("offset"), col("key")))
              .as("xor_digest"))
          .orderBy("value")
      },
      oracle = Some("""
        WITH log AS (
          SELECT user_id % 4 AS partition, event_type AS value,
                 row_number() OVER (PARTITION BY user_id % 4
                                    ORDER BY event_id) - 1 AS off,
                 CAST(event_id AS VARCHAR) AS key
          FROM events)
        SELECT value, count(*) AS n,
               CAST(count(DISTINCT partition) AS BIGINT) AS n_parts,
               min(off) AS min_off, max(off) AS max_off,
               bit_xor(('0x' || substring(md5(off || ':' || key), 1, 15))::BIGINT)
                 AS xor_digest
        FROM log GROUP BY 1 ORDER BY value""")),

    // Runtime (DPP-style) partition pruning through the V2 connector —
    // the read-side sibling of join_spj_dsv2: a selective FILE-backed dim
    // joins the log on its partition key, the dim executes first (it is
    // the broadcast build side), and its surviving partition values reach
    // the scan through SupportsRuntimeFiltering.filter() BEFORE any
    // segment is opened — the log only reads the joined partitions'
    // files. DsV2Spec proves the pruning with the segmentsOpened counter
    // (≤ 2 of 4 segments for this dim); the registry key grades the
    // joined result itself. At 100 TB this is the difference between
    // scanning a whole topic and scanning the two partitions a dimension
    // actually references. The dim predicate must live on a file scan —
    // a local Seq would constant-fold before the pruning rule looks for
    // a filter (the DPP-benefit precondition, same as parquet join_dpp).
    Q(
      "join_dpp_dsv2",
      (s, dir) => {
        val fact = s.read.format("graft-log").load(topic(s, dir))
        // dp must be a STORED column of the dim file, not an expression:
        // the pruning rule only builds a runtime filter from a join key
        // it can tie to the filtered scan's output attribute
        val dim = Stored.read(s, dppDim(s, dir))
          .filter(col("c_custkey").isin(4L, 9L))
        fact.join(broadcast(dim), col("partition") === col("dp"))
          .groupBy("partition", "c_custkey", "c_name")
          .agg(count(lit(1)).as("n_events"), max("offset").as("max_off"))
          .orderBy("partition")
      },
      oracle = Some("""
        WITH log AS (
          SELECT user_id % 4 AS partition,
                 row_number() OVER (PARTITION BY user_id % 4
                                    ORDER BY event_id) - 1 AS off
          FROM events),
        dim AS (
          SELECT c_custkey, c_name, c_custkey % 4 AS dp
          FROM customer WHERE c_custkey IN (4, 9))
        SELECT l.partition, d.c_custkey, d.c_name,
               count(*) AS n_events, max(l.off) AS max_off
        FROM log l JOIN dim d ON l.partition = d.dp
        GROUP BY 1, 2, 3 ORDER BY partition""")),

    // Storage-partitioned join (SPJ) — the ZERO-SHUFFLE plan the
    // KeyGroupedPartitioning report exists for. Both topics are committed
    // with the SAME log partitioning (user_id mod 4); each scan reports
    // KeyGroupedPartitioning(partition) with HasPartitionKey splits, so
    // with v2 bucketing enabled (a) each side's per-partition aggregate
    // rides the reported partitioning (ClusteredDistribution(partition)
    // already satisfied — no partial/final Exchange pair), and (b)
    // EnsureRequirements co-locates the partition-key equi-join of the
    // two aggregates WITHOUT an Exchange on either side. The only
    // Exchange in the whole plan is the 4-row presentation sort —
    // SpjPlanSpec pins exactly that. At 100 TB this is the log
    // fact-to-fact cost model: work stays in the storage partitions,
    // nothing reshuffles. (Record-LEVEL SPJ on (partition, key) — join
    // keys a superset of the partition keys — additionally needs
    // spark.sql.requireAllClusterKeysForCoPartition=false; this key
    // stays on default configs, so the per-record map is aggregated
    // per-side first.) The query is offset translation for the
    // compacted/filtered-topic accounting question: the purchase slice
    // OF the full topic (same predicate that built the purchase topic)
    // yields each record's source offset — count, source-offset span,
    // and an order-independent XOR attestation of the (src_offset, key)
    // map — joined against the purchase topic's own dense-offset census.
    // The oracle replays both topics' offset closed forms and the same
    // digest algebra.
    Q(
      "join_spj_dsv2",
      (s, dir) => {
        val a = s.read.format("graft-log").load(topic(s, dir))
          .filter(col("value") === "purchase")
          .groupBy("partition")
          .agg(count(lit(1)).as("n_matched"),
            min("offset").as("min_src_off"),
            max("offset").as("max_src_off"),
            bit_xor(recHash(col("offset"), col("key")))
              .as("xor_digest"))
        // the digest keeps this aggregate OFF the complete-pushdown path
        // (planAgg only answers count/min/max), so the scan stays a
        // partition-reporting GraftLogScan and the join co-locates
        val b = s.read.format("graft-log").load(purchaseTopic(s, dir))
          .groupBy("partition")
          .agg(max("offset").as("max_cmp_off"),
            bit_xor(recHash(col("offset"), col("key")))
              .as("xor_cmp_digest"))
        a.join(b, Seq("partition"))
          .select(col("partition"), col("n_matched"), col("min_src_off"),
            col("max_src_off"), col("max_cmp_off"), col("xor_digest"),
            col("xor_cmp_digest"))
          .orderBy("partition")
      },
      oracle = Some("""
        WITH full_log AS (
          SELECT user_id % 4 AS partition,
                 row_number() OVER (PARTITION BY user_id % 4
                                    ORDER BY event_id) - 1 AS src_offset,
                 CAST(event_id AS VARCHAR) AS key
          FROM events),
        purch AS (
          SELECT user_id % 4 AS partition,
                 row_number() OVER (PARTITION BY user_id % 4
                                    ORDER BY event_id) - 1 AS cmp_offset,
                 CAST(event_id AS VARCHAR) AS key
          FROM events WHERE event_type = 'purchase')
        SELECT p.partition, count(*) AS n_matched,
               min(f.src_offset) AS min_src_off,
               max(f.src_offset) AS max_src_off,
               max(p.cmp_offset) AS max_cmp_off,
               bit_xor(('0x' || substring(
                 md5(f.src_offset || ':' || f.key), 1, 15))::BIGINT)
                 AS xor_digest,
               bit_xor(('0x' || substring(
                 md5(p.cmp_offset || ':' || p.key), 1, 15))::BIGINT)
                 AS xor_cmp_digest
        FROM purch p JOIN full_log f
          ON f.partition = p.partition AND f.key = p.key
        GROUP BY 1 ORDER BY p.partition"""))
  )

  /** Customer dim with the log-partition key as a STORED column — the
    * join_dpp_dsv2 fixture (written once per JVM/sfDir). */
  private[graft] def dppDim(s: SparkSession, dir: String): String =
    Warm.disk("dsv2_dpp_dim", dir) { root =>
      val out = s"$root/dim"
      Stored.write(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"),
          pmod(col("c_custkey"), lit(4)).cast("int").as("dp")), out)(identity)
      out
    }

  /** Purchase-slice topic: the same events, filtered to purchases, keyed
    * and PARTITIONED identically to [[topic]] (user_id mod 4, key-sorted
    * within partitions) — the co-partitioned second fact the SPJ key
    * joins without a shuffle. Committed once per (JVM, sfDir).
    */
  private[graft] def purchaseTopic(s: SparkSession, dir: String): String =
    Warm.disk("dsv2_purchase_topic", dir) { root =>
      val out = s"$root/log"
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(4)).cast("int").as("partition"),
          col("event_id").cast("string").as("key"),
          col("event_type").as("value"),
          unix_micros(col("ts")).as("ts"))
        .repartition(4, col("partition"))
        .sortWithinPartitions(col("partition"), col("key").cast("long"))
        .write.format("graft-log").mode("append").save(out)
      out
    }
}
