package graft.operators

import graft.{Q, QueryModule, Scratch, Stored, Tables}
import org.apache.spark.sql.functions._

/** §2.A — batch scans, format ingestion, and sinks.
  *
  * The scan queries exist to *prove* pushdown: `scan_projection` must show a
  * pruned ReadSchema and `scan_filter_pushdown` a PushedFilters list in
  * `.explain` (asserted in ScanSpec). At 100 TB these two properties are the
  * difference between reading terabytes and reading gigabytes: projection
  * pruning skips parquet column chunks entirely, and min/max row-group
  * statistics let pushed predicates skip most of the file without decoding.
  *
  * CSV/JSON ingestion always uses explicit schemas — schema inference would
  * mean an extra full pass over 100 TB of text before the real read.
  */
object Sources extends QueryModule {

  def all: Seq[Q] = Seq(
    // SCD-1 upsert into a keyed parquet table — the canonical keyed-ingest
    // pattern without a table format: land the update batch, then rewrite
    // as union + last-writer-wins per key (version-desc window). Every
    // step is a key-partitioned shuffle; no driver involvement. (With a
    // transactional table format this becomes MERGE INTO; the resolution
    // semantics verified here are identical.) The staged table lands via
    // api.Layout.publish — write to a fresh immutable version dir, then
    // an ATOMIC_MOVE pointer swap — so a concurrent reader resolves the
    // previous complete version or this one, never a half-written
    // directory (an in-place `overwrite` has no such guarantee).
    Q(
      "sink_upsert",
      (s, dir) => {
        val out = Scratch.fresh("sink_upsert")
        val base = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
          .withColumn("version", lit(0))
        // Update batch: every 10th customer moves to segment UPGRADED with
        // a 1000.00 credit — derived deterministically from the base.
        val updates = Tables.customer(s, dir)
          .filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), lit("UPGRADED").as("c_mktsegment"),
            (col("c_acctbal") + 1000.0).as("c_acctbal"))
          .withColumn("version", lit(1))
        val staged = graft.api.Layout.publish(
          base.unionByName(updates), s"$out/table")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("c_custkey").orderBy(desc("version"))
        Stored.read(s, staged)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("c_custkey"), col("c_mktsegment"),
            round(col("c_acctbal"), 4).as("c_acctbal"))
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 0 THEN 'UPGRADED'
                    ELSE c_mktsegment END AS c_mktsegment,
               round(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0
                          ELSE c_acctbal END, 4) AS c_acctbal
        FROM customer ORDER BY c_custkey""")),

    // Full-table vectorized parquet scan. Trivial by design: it pins the
    // baseline read path (VectorizedParquetRecordReader, batch decoding).
    Q(
      "scan_parquet",
      (s, dir) => Tables.part(s, dir).orderBy("p_partkey"),
      oracle = Some("""
        SELECT * FROM part ORDER BY p_partkey""")),

    // Column-pruned scan: only 3 of 11 lineitem columns reach the reader.
    Q(
      "scan_projection",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .orderBy("l_orderkey", "l_linenumber"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // Predicate pushdown: both conjuncts are parquet-filterable (timestamp
    // and double compare), so row groups outside the ranges never decode.
    // The emitted timestamp is cast to NTZ after the filter (pushdown is on
    // the raw column): Spark writes tz-adjusted TIMESTAMP_MICROS, DuckDB's
    // TIMESTAMP is timezone-naive — NTZ makes the output schemas agree.
    Q(
      "scan_filter_pushdown",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
            col("l_quantity") < 3.0)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate").cast("timestamp_ntz").as("l_shipdate"),
            col("l_quantity"))
          .orderBy("l_orderkey", "l_linenumber"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_quantity < 3.0
        ORDER BY l_orderkey, l_linenumber""")),

    // CSV round-trip with an explicit schema (no inference pass). The CSV
    // fixture is produced from the nation table at query time, so the DuckDB
    // oracle over the original parquet must match exactly.
    Q(
      "scan_csv",
      (s, dir) => {
        val out = Scratch.fresh("scan_csv")
        Tables.nation(s, dir).write.mode("overwrite")
          .option("header", "true").csv(out)
        s.read.schema(Tables.schemas("nation"))
          .option("header", "true").csv(out)
          .orderBy("n_nationkey")
      },
      oracle = Some("""
        SELECT * FROM nation ORDER BY n_nationkey""")),

    // JSON-lines round-trip with an explicit schema. Spark's JSON writer is
    // value-round-trip-safe for doubles (shortest repr that re-parses).
    Q(
      "scan_json",
      (s, dir) => {
        val out = Scratch.fresh("scan_json")
        Tables.supplier(s, dir).write.mode("overwrite").json(out)
        s.read.schema(Tables.schemas("supplier")).json(out)
          .orderBy("s_suppkey")
      },
      oracle = Some("""
        SELECT * FROM supplier ORDER BY s_suppkey""")),

    // Record-level ingestion safety for CSV: every 5th nation row is
    // written with a non-numeric n_regionkey, then read back PERMISSIVE
    // with a corrupt-record column. Malformed fields become null, the raw
    // line is preserved for quarantine, and the read NEVER throws — at
    // 100 TB a single bad record must not kill the pipeline (fn_try_ansi
    // covers value-level safety; this covers record-level).
    Q(
      "scan_csv_corrupt",
      (s, dir) => {
        val out = Scratch.fresh("scan_csv_corrupt")
        Tables.nation(s, dir)
          .select(concat_ws(",",
            col("n_nationkey"), col("n_name"),
            // Both branches string: under ANSI coercion a STRING/INT CASE
            // unifies to BIGINT and casting 'XX' would throw at write time.
            when(col("n_nationkey") % 5 === 0, lit("XX"))
              .otherwise(col("n_regionkey").cast("string"))).as("value"))
          .write.mode("overwrite").text(out)
        val schema = Tables.schemas("nation")
          .add("_bad", org.apache.spark.sql.types.StringType)
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(out)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
            col("_bad").isNotNull.as("is_corrupt"))
          .orderBy("n_nationkey")
      },
      oracle = Some("""
        SELECT n_nationkey, n_name,
               CASE WHEN n_nationkey % 5 = 0 THEN NULL
                    ELSE n_regionkey END AS n_regionkey,
               n_nationkey % 5 = 0 AS is_corrupt
        FROM nation ORDER BY n_nationkey""")),

    // Record-level ingestion safety for JSON: every 7th supplier row is
    // written as a truncated (unparseable) JSON line. PERMISSIVE parsing
    // nulls all fields for those rows and captures the raw line; the
    // aggregate proves exactly the planted rows were quarantined and the
    // good rows survived bit-intact.
    Q(
      "scan_json_corrupt",
      (s, dir) => {
        val out = Scratch.fresh("scan_json_corrupt")
        Tables.supplier(s, dir)
          .select(
            when(col("s_suppkey") % 7 === 0,
              concat(lit("{\"s_suppkey\": "), col("s_suppkey"),
                lit(", \"s_name\": ")))
              .otherwise(to_json(struct(col("s_suppkey"), col("s_name"),
                col("s_nationkey"), col("s_acctbal")))).as("value"))
          .write.mode("overwrite").text(out)
        val schema = Tables.schemas("supplier")
          .add("_bad", org.apache.spark.sql.types.StringType)
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .json(out)
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("s_suppkey")).as("n_good"),
            count(col("_bad")).as("n_corrupt"),
            round(sum("s_acctbal"), 4).as("good_acctbal"))
      },
      oracle = Some("""
        SELECT count(*) AS n_rows,
               count(*) FILTER (WHERE s_suppkey % 7 <> 0) AS n_good,
               count(*) FILTER (WHERE s_suppkey % 7 = 0) AS n_corrupt,
               round(sum(s_acctbal) FILTER (WHERE s_suppkey % 7 <> 0), 4)
                 AS good_acctbal
        FROM supplier""")),

    // ORC round-trip: the second columnar format, same explicit-schema
    // discipline. Spark's ORC reader is vectorized like parquet's.
    Q(
      "scan_orc",
      (s, dir) => {
        val out = Scratch.fresh("scan_orc")
        Tables.customer(s, dir).write.mode("overwrite").orc(out)
        s.read.schema(Tables.schemas("customer")).orc(out)
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT * FROM customer ORDER BY c_custkey""")),

    // Static partition pruning: read a returnflag-partitioned layout with a
    // partition-column filter — the scan lists only the matching partition
    // directory (PartitionFilters in the plan; 2/3 of the data never read).
    Q(
      "scan_partition_pruned",
      (s, dir) => {
        Stored.read(s, LayoutCache.partitionedLineitem(s, dir))
          .filter(col("l_returnflag") === "R")
          .groupBy("l_linestatus")
          .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 4).as("sum_price"))
          .orderBy("l_linestatus")
      },
      oracle = Some("""
        SELECT l_linestatus, count(*) AS n,
               round(sum(l_extendedprice), 4) AS sum_price
        FROM lineitem WHERE l_returnflag = 'R'
        GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // Z-order clustered scan: the layout (LayoutCache.zorderedLineitem)
    // sorts lineitem by the Morton interleave of (l_partkey, l_suppkey) —
    // a custom codegen expression (functions.ZOrderCode) — so a 2-D box
    // predicate maps to a handful of compact key ranges and parquet
    // row-group min/max stats prune most of the table on BOTH dimensions
    // (a single-column sort can only prune its leading column). The
    // result is layout-independent, so the raw-table oracle checks that
    // clustering preserved the data exactly; ZOrderSpec asserts the
    // pruning itself (rows actually read ≪ table size).
    Q(
      "scan_zorder_pruned",
      (s, dir) => {
        Stored.read(s, LayoutCache.zorderedLineitem(s, dir))
          .filter(col("l_partkey").between(50, 150) &&
            col("l_suppkey").between(3, 8))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_extendedprice"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               l_extendedprice
        FROM lineitem
        WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 3 AND 8
        ORDER BY l_orderkey, l_linenumber""")),

    // Dynamic partition pruning: the partition column is constrained only
    // through a join with a filtered dim, so the pruning predicate is
    // discovered at runtime (dynamicpruning subquery in the plan) — at
    // 100 TB this skips whole partition trees the optimizer cannot prune
    // statically.
    Q(
      "join_dpp",
      (s, dir) => {
        val dim = s.createDataFrame(Seq(
          ("A", "returned_a"), ("N", "kept"), ("R", "returned_r")))
          .toDF("flag", "flag_desc")
          .filter(col("flag_desc").startsWith("returned"))
        Stored.read(s, LayoutCache.partitionedLineitem(s, dir))
          .join(dim, col("l_returnflag") === col("flag"))
          .groupBy("flag_desc")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
          .orderBy("flag_desc")
      },
      oracle = Some("""
        SELECT CASE l_returnflag WHEN 'A' THEN 'returned_a'
                                 ELSE 'returned_r' END AS flag_desc,
               count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
        GROUP BY 1 ORDER BY flag_desc""")),

    // Schema evolution across ingestion batches: batch 1 lands (key, name),
    // batch 2 adds columns (mktsegment, acctbal) and drops name — the
    // normal drift of a long-lived feed. mergeSchema unions the parquet
    // footers at read time; columns absent in a batch read as null. The
    // aggregate proves both the union schema and the per-batch null
    // pattern. (At 100 TB, mergeSchema scans every footer — pin the merged
    // schema explicitly once known; this op is the ingestion-time path.)
    Q(
      "scan_schema_evolution",
      (s, dir) => {
        val out = Scratch.fresh("scan_schema_evolution")
        val c = Tables.customer(s, dir)
        c.select("c_custkey", "c_name")
          .write.mode("overwrite").parquet(s"$out/batch=1")
        c.select("c_custkey", "c_mktsegment", "c_acctbal")
          .write.mode("overwrite").parquet(s"$out/batch=2")
        s.read.option("mergeSchema", "true")
          .option("basePath", out).parquet(out)
          .groupBy("batch")
          .agg(count(lit(1)).as("n"),
            count(col("c_name")).as("n_name"),
            count(col("c_mktsegment")).as("n_seg"),
            round(sum("c_acctbal"), 4).as("sum_bal"))
          .orderBy("batch")
      },
      oracle = Some("""
        SELECT 1 AS batch, count(*) AS n, count(*) AS n_name,
               CAST(0 AS BIGINT) AS n_seg, CAST(NULL AS DOUBLE) AS sum_bal
        FROM customer
        UNION ALL
        SELECT 2, count(*), CAST(0 AS BIGINT), count(*),
               round(sum(c_acctbal), 4)
        FROM customer
        ORDER BY batch""")),

    // Hive-style partitioned parquet sink, verified by re-reading. At scale,
    // partitionBy(low-cardinality col) is the layout that makes downstream
    // partition pruning possible; the re-read aggregate proves no rows were
    // lost or duplicated across partition directories.
    Q(
      "sink_parquet",
      (s, dir) => {
        val out = Scratch.fresh("sink_parquet")
        Stored.write(Tables.lineitem(s, dir), out)(
          _.mode("overwrite").partitionBy("l_returnflag"))
        Stored.read(s, out)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n_rows"),
            round(sum("l_quantity"), 4).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, count(*) AS n_rows,
               round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // The binaryFile source: whole-file blobs as (path, length, content)
    // rows — the ingestion entry for media/document payloads that no
    // record reader parses. Deterministic BMP fixtures are written to
    // scratch, re-read via format("binaryFile") with a glob, and
    // re-decoded; byte lengths and a pixel probe certify a lossless
    // round-trip. Oracle since r15: every output cell is a deterministic
    // function of the fixture CONTRACT (12 files named img_%02d.bmp; BMP
    // size = 54-byte header + h·rowStride with rows padded to 4 bytes;
    // decode booleans true on a lossless round-trip), so DuckDB replays
    // the format arithmetic — file count, exact names, byte length —
    // rather than rows-only-trusting the in-row booleans. The absolute
    // scratch PATH stays out of the output (basename only), which is
    // what makes the replay portable.
    Q(
      "scan_binary_files",
      (s, dir) => {
        val out = Scratch.fresh("scan_binary_files")
        val w = 32; val h = 16
        (0 until 12).foreach { i =>
          val bytes = graft.functions.Codecs.encodeBmp(w, h, (x, y) =>
            ((x * 7 + y * 13 + i) % 256, (x + i) % 256, (y + i) % 256))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, f"img_$i%02d.bmp"), bytes)
        }
        val expectLen = 54L + h * ((w * 3 + 3) / 4 * 4)
        s.read.format("binaryFile").option("pathGlobFilter", "*.bmp")
          .load(out)
          .select(
            element_at(split(col("path"), "/"), -1).as("file"),
            col("length"),
            col("content"))
          .withColumn("decoded",
            udf((b: Array[Byte]) => {
              val d = graft.functions.Codecs.decodeBmp(b)
              Seq(d.width, d.height, d.pixels(0)(0)._1)
            }).apply(col("content")))
          .select(col("file"), col("length"),
            (col("length") === expectLen).as("len_ok"),
            (element_at(col("decoded"), 1) === w &&
              element_at(col("decoded"), 2) === h).as("dims_ok"))
          .orderBy("file")
      },
      oracle = Some("""
        SELECT printf('img_%02d.bmp', i) AS file,
               CAST(54 + 16 * ((32 * 3 + 3) // 4 * 4) AS BIGINT)
                 AS length,
               true AS len_ok, true AS dims_ok
        FROM generate_series(0, 11) AS t(i)
        ORDER BY file""")),

    // Avro object-container ingestion (round 10). The sandbox ships avro
    // core jars (avro-1.12.1) but NOT the spark-avro DataSource module,
    // so this is the zero-dependency path a locked-down deployment would
    // use: a distributed mapPartitions write of real Avro container
    // files (deflate codec, timestamp-micros logical type), then a
    // binaryFile scan + per-file DataFileStream decode back to rows.
    // Each task writes/parses exactly one container file, so both
    // directions scale file-parallel with no driver involvement; on a
    // cluster the scratch dir is shared storage and commit goes through
    // a DSv2 protocol (graft-log precedent). The aggregate over the
    // ROUND-TRIPPED rows must equal the oracle computed on the original
    // parquet — the same lossless-path proof as scan_text_lines.
    Q(
      "scan_avro",
      (s, dir) => {
        import s.implicits._
        val out = Scratch.fresh("scan_avro")
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"),
            unix_micros(col("l_shipdate")).as("ship_us"))
          .repartition(4, col("l_orderkey"))
          .as[(Long, Int, Double, Double, String, Long)]
          .mapPartitions { it =>
            if (it.isEmpty) Iterator.empty
            else Iterator.single(graft.functions.AvroCodec.writePartition(out, it))
          }
          .collect() // forces the distributed write; 4 path strings
        s.read.format("binaryFile").option("pathGlobFilter", "*.avro")
          .load(out)
          .select(col("content"))
          .as[Array[Byte]]
          .flatMap(graft.functions.AvroCodec.readContainer _)
          .toDF("l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_returnflag", "ship_us")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n_rows"),
            round(sum("l_quantity"), 4).as("sum_qty"),
            round(sum("l_extendedprice"), 4).as("sum_ext"),
            min(year(timestamp_micros(col("ship_us")))).as("min_year"),
            max(year(timestamp_micros(col("ship_us")))).as("max_year"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, count(*) AS n_rows,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_ext,
               CAST(min(year(l_shipdate)) AS INT) AS min_year,
               CAST(max(year(l_shipdate)) AS INT) AS max_year
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Line-oriented text ingestion — the format LLM corpora actually
    // arrive in (one record per line). The corpus is round-tripped
    // through a real text file (distributed write of TSV lines, then
    // spark.read.text + split parse), and the aggregate over the PARSED
    // rows must equal the oracle computed on the original parquet —
    // proving the text path is lossless. Document text is single-line,
    // tab-free tokens, so TSV is a faithful frame.
    Q(
      "scan_text_lines",
      (s, dir) => {
        val out = Scratch.fresh("scan_text_lines")
        Tables.documents(s, dir)
          .select(concat_ws("\t",
            col("doc_id"), col("lang"), col("text")).as("value"))
          .write.mode("overwrite").text(out)
        s.read.text(out)
          .select(split(col("value"), "\t").as("f"))
          .select(element_at(col("f"), 1).cast("long").as("doc_id"),
            element_at(col("f"), 2).as("lang"),
            element_at(col("f"), 3).as("text"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).as("total_chars"),
            sum(size(split(col("text"), " "))).as("total_tokens"))
          .orderBy("lang")
      },
      oracle = Some("""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                 AS total_tokens
        FROM documents
        GROUP BY lang ORDER BY lang""")),

    // The explicit caching surface: a projected scan pinned with
    // .cache(), materialized once, then aggregated — the second pass
    // reads InMemoryTableScan, not parquet (PlanShapeSpec asserts it).
    // The cached slice is the 2-column projection, NOT the full table:
    // at 100 TB you cache the working set you re-derive from, never the
    // raw scan. Result itself is oracle-checked like any aggregate.
    Q(
      "scan_cached_reuse",
      (s, dir) => {
        val proj = Tables.lineitem(s, dir)
          .select("l_returnflag", "l_quantity").cache()
        proj.count() // materialize the cache before the timed reuse
        proj.groupBy("l_returnflag")
          .agg(
            round(sum(col("l_quantity").cast("decimal(12,2)")), 4)
              .cast("double").as("sum_qty"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 4)
                 AS DOUBLE) AS sum_qty,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Small-files compaction — the ingestion-maintenance pass every
    // file-based sink eventually needs: a deliberately over-fragmented
    // layout (32 shards) is rewritten into 2 files and the row count
    // re-certified. The oracle (round 11) is the CONTRACT CONSTANT,
    // not a replay — DuckDB cannot observe the scratch filesystem, but
    // the observable outcome of a correct compaction is fully
    // determined (fragmented input, output within the 2-file budget,
    // rows preserved — asserted as booleans so a benign writer-behavior
    // change can't masquerade as a failure, ADVICE r11), so hash-checking
    // against the constant turns a publish/compaction regression into a
    // correctness failure instead of a spec-only failure. At 100 TB this
    // is the
    // job that keeps scan task counts sane — the rewrite is a plain
    // repartition(n) write, embarrassingly parallel. Visibility is
    // TRANSACTIONAL end-to-end: both generations land through
    // api.Layout.publish (fresh immutable version dir + atomic _CURRENT
    // swap), so a reader resolving the table mid-compaction gets the
    // complete fragmented v1 or the complete compact v2, never an
    // in-progress directory; v1 is retired only after the swap
    // (ApiSpec pins the before/after-only property).
    Q(
      "sink_compaction",
      (s, dir) => {
        val root = Scratch.fresh("sink_compaction")
        val table = s"$root/table"
        val ev = Tables.events(s, dir)
        val frag = graft.api.Layout.publish(ev.repartition(32), table)
        val before = Stored.read(s, frag)
        val compact = graft.api.Layout.publish(before.repartition(2), table)
        val after = graft.api.Layout.readCurrent(s, table).get
        // Files.list holds a directory handle until closed — Using closes.
        val nFiles = (p: String) => scala.util.Using.resource(
            java.nio.file.Files.list(java.nio.file.Paths.get(p)))(
          _.toArray.map(_.toString).count(_.endsWith(".parquet")).toLong)
        val sp2 = s
        import sp2.implicits._
        // Report SEMANTIC facts, not raw file counts: a benign writer
        // change (maxRecordsPerFile, empty-partition elision, commit
        // protocol splitting a task's output) would shift exact counts
        // while the compaction itself stays correct (ADVICE r11). The
        // contract is: input genuinely fragmented (>= 2x the target),
        // output within the requested file budget, rows preserved.
        Seq((nFiles(frag) >= 4L,
            nFiles(compact) <= 2L && nFiles(compact) >= 1L,
            before.count() == after.count() && after.count() == ev.count()))
          .toDF("fragmented_in", "within_budget_out", "rows_preserved")
      },
      oracle = Some("""
        SELECT true AS fragmented_in,
               true AS within_budget_out,
               true AS rows_preserved""")),

    // Time travel + vacuum over the versioned-publish layout (round 12):
    // three successive publishes (full table, then two progressively
    // tighter filters), every version read back BY VERSION NUMBER and
    // aggregated — the oracle replays each version's filter directly, so
    // the whole history is hash-checked, not just the head. A
    // vacuum(keepLast=2) then retires v1 and the readability flags prove
    // the retention horizon: retired versions disappear, the kept tail
    // and the current pointer survive. At 100 TB this is the
    // rollback/repro accessor (train on LAST week's snapshot) plus the
    // storage-reclaim pass; both are metadata-speed — no data is copied
    // to time-travel, only retired dirs are deleted to vacuum. Exact
    // decimal sums keep the aggregate engine-portable.
    Q(
      "sink_time_travel",
      (s, dir) => {
        val root = Scratch.fresh("sink_time_travel")
        val table = s"$root/table"
        val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
        graft.api.Layout.publish(ev, table) // v1
        graft.api.Layout.publish(ev.filter(col("value") >= 10), table) // v2
        graft.api.Layout.publish(ev.filter(col("value") >= 50), table) // v3
        val aggs = (1L to 3L).map { v =>
          val df = graft.api.Layout.readVersion(s, table, v).get
          val r = df.agg(count(lit(1)),
            round(sum(col("value").cast("decimal(12,2)")), 4)
              .cast("double")).first()
          (v, r.getLong(0), r.getDouble(1))
        }
        val dropped = graft.api.Layout.vacuum(table, keepLast = 2)
        require(dropped == Seq(1L), s"vacuum retired $dropped, expected v1")
        val sp2 = s
        import sp2.implicits._
        aggs.map { case (v, n, sv) =>
          (v, n, sv, graft.api.Layout.readVersion(s, table, v).isDefined)
        }.toDF("version", "n", "sum_value", "readable_after_vacuum")
          .orderBy("version")
      },
      oracle = Some("""
        SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE)
                 AS sum_value,
               false AS readable_after_vacuum
        FROM events
        UNION ALL
        SELECT CAST(2 AS BIGINT), count(*),
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE),
               true
        FROM events WHERE value >= 10
        UNION ALL
        SELECT CAST(3 AS BIGINT), count(*),
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE),
               true
        FROM events WHERE value >= 50
        ORDER BY version""")),

    // Partition-retention (TTL) enforcement: events land in a
    // day-partitioned sink, partitions older than the cutoff are
    // dropped, and the surviving data must equal the batch filter — an
    // ORACLE-verified retention pass. Dropping whole partition
    // directories is the O(1) retention primitive that makes
    // day-partitioned layouts the right ingest format; no row-level
    // delete scan at any scale. Visibility is ATOMIC at table
    // granularity via api.Layout.publishManifest: retention writes a new
    // manifest generation listing only the surviving day dirs and swaps
    // the _CURRENT pointer — a metadata-only commit, zero data moved —
    // and physically deletes the expired dirs only AFTER the swap. A
    // reader resolving the pointer mid-pass sees the complete old
    // generation or the complete new one, never a mixture of days
    // (ApiSpec pins the property).
    Q(
      "sink_retention",
      (s, dir) => {
        val root = Scratch.fresh("sink_retention")
        val sink = s"$root/sink"
        val batch = Tables.events(s, dir)
          .withColumn("day", expr("unix_micros(ts) div 86400000000"))
        Stored.write(batch, sink)(_.partitionBy("day"))
        // TTL anchored to the data's own horizon (keep the newest 17 days),
        // not a wall-clock literal — a date-shifted corpus regeneration
        // moves the cutoff with it. One scalar aggregate, driver-side.
        val cutoff =
          batch.agg(max(col("day"))).head.getLong(0) - 17L
        val dayDirs = scala.util.Using.resource(
            java.nio.file.Files.list(java.nio.file.Paths.get(sink)))(_.toArray)
          .map(_.toString).filter(_.contains("day=")).sorted.toSeq
        def expired(p: String) = "day=(\\d+)".r.findFirstMatchIn(p)
          .exists(_.group(1).toLong < cutoff)
        graft.api.Layout.publishManifest(sink, dayDirs) // generation 1: all
        // retention = metadata-only generation swap ...
        graft.api.Layout.publishManifest(sink, dayDirs.filterNot(expired))
        // ... and the physical delete happens strictly AFTER the swap
        dayDirs.filter(expired).foreach { p =>
          scala.util.Using.resource(
              java.nio.file.Files.walk(java.nio.file.Paths.get(p))) { st =>
            st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(f => java.nio.file.Files.delete(f))
          }
        }
        // All-partitions-expired is a legal retention outcome: the new
        // generation lists zero dirs, and `parquet()` with zero paths
        // throws — surface it as an empty result with the batch schema
        // instead (the oracle's WHERE produces zero rows in that case too).
        val surviving = graft.api.Layout.currentManifest(sink)
        val kept =
          if (surviving.nonEmpty)
            Stored.reader(s, sink).option("basePath", sink).parquet(surviving: _*)
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        kept
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            min(col("day")).cast("long").as("first_day"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH d AS (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
          FROM events)
        SELECT event_type, count(*) AS n, min(day) AS first_day
        FROM d
        WHERE day >= (SELECT max(day) - 17 FROM d)
        GROUP BY event_type ORDER BY event_type""")),

    // Quarantine ROUTING — the step after the dq_* audits: violating
    // rows don't just get counted, they get routed OUT of the publish
    // path into a quarantine branch that carries the rejection reason,
    // while clean rows land with their original schema. Rules are an
    // ordered CASE (first match wins: PK duplicates, then range), so a
    // row lands in exactly one branch and clean + quarantined = input —
    // certified from the SINK (re-read for the report), not from the
    // routing plan. Cost shape at 100 TB: ONE window shuffle on the PK
    // for duplicate detection, then ONE write pass with
    // partitionBy(reason) — the reason becomes a partition directory, so
    // the clean branch (reason=clean/) carries exactly the original
    // columns in its data files and the quarantine branches are
    // re-ingestable by construction. No localCheckpoint, no second scan:
    // the round-8 shape eagerly materialized the whole routed corpus in
    // executor storage to feed two filtered writes — a storage-resident
    // copy of the input at scale (VERDICT r8 task 5); the partitioned
    // single write routes every row in the same pass that computes it.
    // The corpus's REAL defect mass routes: ~26k duplicate-PK rows and
    // ~3.4k quantity-tail rows at sf0.01 (NOTES.md) — non-vacuous.
    Q(
      "sink_quarantine_route",
      (s, dir) => {
        val root = Scratch.fresh("sink_quarantine_route")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey", "l_linenumber")
        Stored.write(Tables.lineitem(s, dir)
          .withColumn("reason",
            when(count(lit(1)).over(w) > 1, "duplicate_pk")
              .when(col("l_quantity") > 45, "quantity_range")
              .otherwise("clean")), s"$root/routed")(_.partitionBy("reason"))
        Stored.read(s, s"$root/routed")
          .groupBy("reason").agg(count(lit(1)).as("n_rows"))
          .orderBy("reason")
      },
      oracle = Some("""
        WITH c AS (
          SELECT l_quantity,
                 count(*) OVER (PARTITION BY l_orderkey, l_linenumber)
                   AS pkc
          FROM lineitem)
        SELECT CASE WHEN pkc > 1 THEN 'duplicate_pk'
                    WHEN l_quantity > 45 THEN 'quantity_range'
                    ELSE 'clean' END AS reason,
               count(*) AS n_rows
        FROM c GROUP BY 1 ORDER BY 1""")),

    // Dynamic partition overwrite — THE idempotent backfill primitive:
    // recompute one day and write mode("overwrite") with
    // partitionOverwriteMode=dynamic, and only the partitions PRESENT in
    // the written frame are replaced; the other 29 days are untouched
    // (static mode would truncate the whole table). Re-running the same
    // backfill lands the same bytes — at-least-once orchestration is
    // safe. Visibility: the swap is atomic PER PARTITION directory only;
    // a reader mid-backfill can see day A corrected and day B not yet —
    // where cross-partition consistency matters, publish a full snapshot
    // via api.Layout.publish instead. Oracle: the read-back equals
    // events with the backfilled day (max - 19) doubled, cents-exact.
    Q(
      "sink_dynamic_overwrite",
      (s, dir) => {
        val root = Scratch.fresh("sink_dynamic_overwrite")
        val sink = s"$root/sink"
        val ev = Tables.events(s, dir)
          .withColumn("day", expr("unix_micros(ts) div 86400000000"))
        Stored.write(ev, sink)(_.partitionBy("day"))
        // The backfill day is anchored to the data's own horizon
        // (max - 19), not a wall-clock literal, so a date-shifted corpus
        // regeneration moves the target with it. One scalar aggregate.
        val backfillDay = ev.agg(max(col("day"))).head.getLong(0) - 19L
        // The backfill: that day re-derived with corrected values (2x).
        val fixed = ev.filter(col("day") === backfillDay)
          .withColumn("value", col("value") * 2)
        Stored.write(fixed, sink)(_.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").partitionBy("day"))
        Stored.read(s, sink)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            // cents-exact double digest (the diffSnapshots contract):
            // float sums are order-sensitive, integer sums are not
            sum(round(col("value") * 100).cast("long")).as("sum_cents"),
            countDistinct(col("day")).as("n_days"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH d AS (
          SELECT event_type, value,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
          FROM events)
        SELECT event_type, count(*) AS n,
               CAST(sum(CASE WHEN day = (SELECT max(day) - 19 FROM d)
                             THEN CAST(round(value * 2 * 100) AS BIGINT)
                             ELSE CAST(round(value * 100) AS BIGINT)
                        END) AS BIGINT) AS sum_cents,
               CAST(count(DISTINCT day) AS BIGINT) AS n_days
        FROM d GROUP BY event_type ORDER BY event_type""")),

    // The parquet _metadata hidden column — per-row file lineage (which
    // file, which position), the hook ingestion pipelines use for
    // provenance tracking and selective reprocessing. No oracle,
    // PERMANENTLY (r15 adjudication): the output is keyed by physical
    // part-file names and per-file row counts — properties of the
    // parquet LAYOUT, one abstraction level below the logical tables
    // the oracle harness registers as views; no SQL over the `lineitem`
    // view can see which part file a row came from. The contiguity
    // check self-certifies instead: row_index must cover exactly
    // [0, n_rows) within each file.
    Q(
      "scan_parquet_metadata",
      (s, dir) =>
        s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("_metadata.file_name").as("file"),
            col("_metadata.row_index").as("ri"))
          .groupBy("file")
          .agg(count(lit(1)).as("n_rows"),
            min(col("ri")).as("min_ri"), max(col("ri")).as("max_ri"))
          .select(col("file"), col("n_rows"),
            (col("min_ri") === 0 && col("max_ri") === col("n_rows") - 1)
              .as("idx_contiguous"))
          .orderBy("file")),

    // In-plan schema drift: two producer generations of one feed — the
    // old one missing a column, the new one carrying an extra — unioned
    // with unionByName(allowMissingColumns = true), which aligns by NAME
    // and null-fills the gaps (positional union would misalign or
    // reject). This is the read-side complement of
    // scan_schema_evolution's mergeSchema: evolution inside one plan,
    // no rewrite of either batch. The audit columns count the null fill
    // exactly, so the oracle certifies the alignment.
    Q(
      "scan_union_schema_drift",
      (s, dir) => {
        val orders = Tables.orders(s, dir)
        val oldGen = orders.filter(col("o_orderkey") % 2 === 0)
          .drop("o_orderpriority") // produced before the column existed
        val newGen = orders.filter(col("o_orderkey") % 2 === 1)
          .withColumn("ingest_v", lit(2)) // carries a new lineage column
        oldGen.unionByName(newGen, allowMissingColumns = true)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
              .as("n_missing_priority"),
            sum(coalesce(col("ingest_v"), lit(0)).cast("long"))
              .as("v_checksum"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, count(*) AS n,
               CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
                 AS n_missing_priority,
               CAST(2 * count(*) FILTER (WHERE o_orderkey % 2 = 1)
                 AS BIGINT) AS v_checksum
        FROM orders GROUP BY 1 ORDER BY 1"""))
  )
}
