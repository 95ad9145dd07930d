package graft.operators

import graft.{Cut, Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** §2.D — aggregation operators.
  *
  * All group-bys rely on Spark's automatic partial/final split (map-side
  * combine), so at 100 TB the shuffle carries one row per (partition, group),
  * not per input row. Group-key cardinalities here are tiny (flags, segments,
  * nations), so the shuffle is negligible regardless of fact-table size.
  */
object Aggregates extends QueryModule {

  /** The view-vs-click cent-value histogram shared by agg_ks_test and
    * agg_mannwhitney — ONE definition so the two keys can never drift
    * apart on the slice (null filter, type pair, cent quantization).
    * Returns (c, ca, cb): per distinct cent, the count in each sample.
    */
  private def viewClickCentHistogram(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.Tables.events(s, dir)
      .filter(col("value").isNotNull &&
        col("event_type").isin("view", "click"))
      .select((col("event_type") === lit("view")).as("in_a"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("c").agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("cb"))

  def all: Seq[Q] = Seq(
    // TPC-H Q1 shape: the §7.1 end-to-end slice. Scan → filter (pushed to
    // parquet row groups) → hash agg (partial+final) → tiny sorted result.
    Q(
      "agg_group",
      (s, dir) => {
        // The source columns are exact 2-decimal money values stored as
        // doubles, so a cast to decimal(_,2) is lossless and identical in
        // both engines. ALL arithmetic then happens in exact decimal —
        // double accumulation order (Spark partial-agg vs DuckDB serial)
        // can no longer flip any digit. The exact sums are rounded to
        // scale 4 (half-up in both engines) BEFORE the double cast, so
        // each engine performs one exact int→double plus one
        // correctly-rounded division — no double-rounding divergence from
        // DuckDB's scaled-int128 cast path at scale 6. Bound: per-group
        // sum_charge reaches ~1.2e11 at SF1, so the scale-4 scaled
        // integer (~1.2e15) crosses 2^53 (~9e15) near SF8; beyond that,
        // drop to scale 2 (money scale) for ~100× more headroom.
        val qty   = col("l_quantity").cast("decimal(12,2)")
        val price = col("l_extendedprice").cast("decimal(12,2)")
        val disc  = col("l_discount").cast("decimal(4,2)")
        val tax   = col("l_tax").cast("decimal(4,2)")
        val one   = lit(1).cast("decimal(3,2)")
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(qty), 4).cast("double").as("sum_qty"),
            round(sum(price), 4).cast("double").as("sum_base_price"),
            round(sum(price * (one - disc)), 4).cast("double").as("sum_disc_price"),
            round(sum(price * (one - disc) * (one + tax)), 4).cast("double").as("sum_charge"),
            round(sum(disc), 4).cast("double").as("sum_disc"),
            count(lit(1)).as("count_order"))
          // Averages from the SAME rounded double sums both engines now
          // share; the quotient doubles are therefore bit-identical inputs
          // to round() on both sides.
          .select(col("l_returnflag"), col("l_linestatus"),
            col("sum_qty"), col("sum_base_price"),
            col("sum_disc_price"), col("sum_charge"),
            round(col("sum_qty") / col("count_order"), 4).as("avg_qty"),
            round(col("sum_base_price") / col("count_order"), 4).as("avg_price"),
            round(col("sum_disc") / col("count_order"), 4).as("avg_disc"),
            col("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      oracle = Some("""
        WITH t AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(l_quantity AS DECIMAL(12,2))      AS qty,
                 CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
                 CAST(l_discount AS DECIMAL(4,2))       AS disc,
                 CAST(l_tax AS DECIMAL(4,2))            AS tax
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
        g AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(round(sum(qty), 4) AS DOUBLE)   AS sum_qty,
                 CAST(round(sum(price), 4) AS DOUBLE) AS sum_base_price,
                 CAST(round(sum(price * (CAST(1 AS DECIMAL(3,2)) - disc)), 4) AS DOUBLE) AS sum_disc_price,
                 CAST(round(sum(price * (CAST(1 AS DECIMAL(3,2)) - disc)
                                      * (CAST(1 AS DECIMAL(3,2)) + tax)), 4) AS DOUBLE)  AS sum_charge,
                 CAST(round(sum(disc), 4) AS DOUBLE) AS sum_disc,
                 count(*) AS count_order
          FROM t GROUP BY l_returnflag, l_linestatus)
        SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
               sum_disc_price, sum_charge,
               round(sum_qty / count_order, 4)        AS avg_qty,
               round(sum_base_price / count_order, 4) AS avg_price,
               round(sum_disc / count_order, 4)       AS avg_disc,
               count_order
        FROM g
        ORDER BY l_returnflag, l_linestatus""")),

    // Equi-width histogram — numeric profiling for ingestion QA: one
    // hash-agg over computed bucket ids (map-side partial ⇒ the shuffle
    // carries one row per bucket), plus a windowless share computation
    // via a broadcast scalar join.
    Q(
      "agg_histogram",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val total = li.agg(count(lit(1)).as("n_total"))
        li.select(floor(col("l_extendedprice") / 5000).cast("int").as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(total))
          .select(col("bucket"),
            (col("bucket") * 5000).cast("double").as("lo"),
            ((col("bucket") + 1) * 5000).cast("double").as("hi"),
            col("n"),
            round(col("n") / col("n_total").cast("double"), 6).as("share"))
          .orderBy("bucket")
      },
      oracle = Some("""
        WITH b AS (
          SELECT CAST(floor(l_extendedprice / 5000) AS INT) AS bucket,
                 count(*) AS n
          FROM lineitem GROUP BY 1),
        t AS (SELECT count(*) AS n_total FROM lineitem)
        SELECT bucket, CAST(bucket * 5000 AS DOUBLE) AS lo,
               CAST((bucket + 1) * 5000 AS DOUBLE) AS hi, n,
               round(n / CAST(n_total AS DOUBLE), 6) AS share
        FROM b, t ORDER BY bucket""")),

    // Log2-bucket histogram — the long-tail profile equi-width buckets
    // can't draw: doc lengths (like most corpus size distributions) span
    // orders of magnitude, so training-data length QA buckets by
    // magnitude. Same mergeable one-hash-agg shape as agg_histogram (the
    // shuffle carries one row per (source, bucket)). The bucket id is
    // floor(log2(n_chars)) computed EXACTLY as the bit length of the
    // integer (length(bin(x)) - 1 in both engines) — float log2 would
    // round-trip 2^k cells through 9.999… and disagree at bucket edges.
    Q(
      "agg_log_histogram",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val totals = d.groupBy("source").agg(count(lit(1)).as("n_src"))
        d.select(col("source"),
            (length(bin(col("n_chars"))) - 1).cast("int").as("bucket"))
          .groupBy("source", "bucket")
          .agg(count(lit(1)).as("n"))
          .join(totals, Seq("source"))
          .select(col("source"), col("bucket"),
            expr("shiftleft(1L, bucket)").as("lo"),
            expr("shiftleft(1L, bucket + 1)").as("hi"),
            col("n"),
            round(col("n") / col("n_src").cast("double"), 6).as("share"))
          .orderBy("source", "bucket")
      },
      oracle = Some("""
        WITH b AS (
          SELECT source,
                 CAST(length(bin(n_chars)) - 1 AS INT) AS bucket,
                 count(*) AS n
          FROM documents GROUP BY 1, 2),
        t AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1)
        SELECT b.source, bucket,
               (1::BIGINT << bucket) AS lo,
               (1::BIGINT << (bucket + 1)) AS hi, n,
               round(n / CAST(n_src AS DOUBLE), 6) AS share
        FROM b JOIN t ON b.source = t.source
        ORDER BY b.source, bucket""")),

    // Quantiles from a mergeable equi-width histogram: bin counts merge by
    // addition (the property that makes this a one-pass distributed
    // quantile estimate at any scale), and the estimate interpolates
    // linearly inside the bin containing q·N. An AUDIT percentile runs
    // alongside so the error is visible — computed on the deterministic
    // 10% hash-sample valve (the filter_sample_hash primitive: Knuth
    // multiplicative hashing over (l_orderkey, l_linenumber), exact
    // 64-bit integer arithmetic, identical predicate in the oracle), NOT
    // the full table: Spark's exact `percentile` buffers every value in
    // the aggregation buffer, so a whole-table audit leg is O(n) driver-
    // adjacent memory — the one shape that cannot survive 100 TB. The
    // sampled leg keeps the audit (same interpolation semantics, rank
    // error ~1/√(0.1·n)) at 10% of the memory and cost; the histogram
    // estimate + its visible error remains the product. Both legs are
    // deterministic expressions the oracle replays, so the whole row set
    // hash-matches.
    Q(
      "agg_quantile_hist",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val width = 500.0
        val li = Tables.lineitem(s, dir)
        val hist = li
          .select(floor(col("l_extendedprice") / width).cast("int").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("bin_n"))
        val cum = hist.withColumn("cum",
          sum("bin_n").over(Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val total = li.agg(count(lit(1)).as("n_total"))
        val audit = li
          .filter(pmod(
            (col("l_orderkey").cast("long") * 31 + col("l_linenumber")) *
              lit(2654435761L), lit(4294967296L)) % 100 < 10)
          .agg(
            expr("percentile(l_extendedprice, 0.5)").as("e50"),
            expr("percentile(l_extendedprice, 0.9)").as("e90"),
            expr("percentile(l_extendedprice, 0.99)").as("e99"))
        val qs = s.createDataFrame(Seq(Tuple1(0.5), Tuple1(0.9), Tuple1(0.99)))
          .toDF("q")
        qs.crossJoin(broadcast(total)).crossJoin(broadcast(audit))
          .join(cum,
            col("cum") >= col("q") * col("n_total") &&
              (col("cum") - col("bin_n")) < col("q") * col("n_total"))
          .select(col("q"),
            round(col("bin") * width +
              (col("q") * col("n_total") - (col("cum") - col("bin_n"))) /
              col("bin_n") * width, 4).as("est_quantile"),
            round(
              when(col("q") === 0.5, col("e50"))
                .when(col("q") === 0.9, col("e90"))
                .otherwise(col("e99")), 4).as("audit_quantile"))
          .orderBy("q")
      },
      oracle = Some("""
        WITH h AS (
          SELECT CAST(floor(l_extendedprice / 500) AS INT) AS bin,
                 count(*) AS bin_n
          FROM lineitem GROUP BY 1),
        c AS (
          SELECT bin, bin_n,
                 sum(bin_n) OVER (ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM h),
        t AS (SELECT count(*) AS n_total FROM lineitem),
        ex AS (SELECT quantile_cont(l_extendedprice, 0.5) AS e50,
                      quantile_cont(l_extendedprice, 0.9) AS e90,
                      quantile_cont(l_extendedprice, 0.99) AS e99
               FROM lineitem
               WHERE ((CAST(l_orderkey AS BIGINT) * 31 + l_linenumber)
                      * 2654435761) % 4294967296 % 100 < 10),
        q AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
        SELECT q,
               round(bin * 500 + (q * n_total - (cum - bin_n)) / bin_n * 500,
                     4) AS est_quantile,
               round(CASE WHEN q = 0.5 THEN e50
                          WHEN q = 0.9 THEN e90 ELSE e99 END, 4)
                 AS audit_quantile
        FROM q, t, ex JOIN c
          ON cum >= q * n_total AND (cum - bin_n) < q * n_total
        ORDER BY q""")),

    // Column profiling — the data-quality summary an ingestion service
    // emits per landed batch: row/null/distinct counts and value range per
    // column, one narrow output row per profiled column. Each column's
    // stats are a single pass; the union is 5 small aggregates.
    Q(
      "agg_profile_columns",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
          "l_discount", "l_tax")
        cols.map { c =>
          li.agg(
            count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).cast("double").as("min_v"),
            max(col(c)).cast("double").as("max_v"))
            .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
              col("n_distinct"), col("min_v"), col("max_v"))
        }.reduce(_.unionByName(_)).orderBy("column_name")
      },
      oracle = Some("""
        SELECT 'l_orderkey' AS column_name, count(*) AS n_rows,
               CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_null,
               count(DISTINCT l_orderkey) AS n_distinct,
               CAST(min(l_orderkey) AS DOUBLE) AS min_v,
               CAST(max(l_orderkey) AS DOUBLE) AS max_v FROM lineitem
        UNION ALL
        SELECT 'l_quantity', count(*),
               CAST(count(*) - count(l_quantity) AS BIGINT),
               count(DISTINCT l_quantity),
               CAST(min(l_quantity) AS DOUBLE),
               CAST(max(l_quantity) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', count(*),
               CAST(count(*) - count(l_extendedprice) AS BIGINT),
               count(DISTINCT l_extendedprice),
               CAST(min(l_extendedprice) AS DOUBLE),
               CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'l_discount', count(*),
               CAST(count(*) - count(l_discount) AS BIGINT),
               count(DISTINCT l_discount),
               CAST(min(l_discount) AS DOUBLE),
               CAST(max(l_discount) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'l_tax', count(*),
               CAST(count(*) - count(l_tax) AS BIGINT),
               count(DISTINCT l_tax),
               CAST(min(l_tax) AS DOUBLE),
               CAST(max(l_tax) AS DOUBLE) FROM lineitem
        ORDER BY column_name""")),

    // Exact COUNT(DISTINCT) per group: Catalyst rewrites to a two-stage
    // expand+agg (RewriteDistinctAggregates); distinct keys shuffle once.
    Q(
      "agg_distinct",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps,
               count(*)                  AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // HyperLogLog++ approximate distinct — approximate by design, so graded
    // rows-only (no oracle; DuckDB's approx sketch differs).
    Q(
      "agg_approx_distinct",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
          .orderBy("event_type")),

    // ROLLUP over the region→nation hierarchy (customer counts + balances).
    Q(
      "agg_rollup",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(
            count(lit(1)).as("n_cust"),
            round(sum("c_acctbal"), 4).as("sum_bal"),
            grouping_id().as("gid"))
          .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
      },
      oracle = Some("""
        SELECT r_name, n_name, count(*) AS n_cust,
               round(sum(c_acctbal), 4) AS sum_bal,
               grouping(r_name, n_name) AS gid
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")),

    // CUBE over two independent dimensions (orders ⋈ customer).
    Q(
      "agg_cube",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .cube(col("c_mktsegment"), col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n_orders"),
            round(sum("o_totalprice"), 4).as("sum_price"))
          .orderBy(asc_nulls_first("c_mktsegment"), asc_nulls_first("o_orderstatus"))
      },
      oracle = Some("""
        SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY CUBE (c_mktsegment, o_orderstatus)
        ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST""")),

    // Explicit GROUPING SETS via the SQL front end (§3.2): per-lang,
    // per-source, and grand-total doc stats in one pass.
    Q(
      "agg_grouping_sets",
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("graft_docs_gs")
        s.sql("""
          SELECT lang, source, count(*) AS n_docs,
                 round(avg(n_chars), 4) AS avg_chars
          FROM graft_docs_gs
          GROUP BY GROUPING SETS ((lang), (source), ())
          ORDER BY lang NULLS FIRST, source NULLS FIRST""")
      },
      oracle = Some("""
        SELECT lang, source, count(*) AS n_docs,
               round(avg(n_chars), 4) AS avg_chars
        FROM documents
        GROUP BY GROUPING SETS ((lang), (source), ())
        ORDER BY lang NULLS FIRST, source NULLS FIRST""")),

    // Exact order statistics: stddev + interpolated median/p90.
    // Spark `median`/`percentile` are exact-interpolated, matching DuckDB
    // median/quantile_cont; both sides rounded.
    Q(
      "agg_stats",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(
            round(stddev_samp(col("value")), 4).as("sd_value"),
            round(median(col("value")), 4).as("med_value"),
            round(expr("percentile(value, 0.9)"), 4).as("p90_value"),
            count(lit(1)).as("n"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type,
               round(stddev_samp(value), 4) AS sd_value,
               round(median(value), 4)      AS med_value,
               round(quantile_cont(value, 0.9), 4) AS p90_value,
               count(*)                     AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // Bivariate statistics: correlation and sample covariance of price vs
    // quantity per flag — single-pass streaming moments, no window.
    Q(
      "agg_corr_cov",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            round(corr("l_extendedprice", "l_quantity"), 4).as("price_qty_corr"),
            round(covar_samp("l_extendedprice", "l_quantity"), 4).as("price_qty_cov"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               round(corr(l_extendedprice, l_quantity), 4) AS price_qty_corr,
               round(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_cov,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Pivot: event counts per user decile × event type. Spark plans pivot
    // as a single two-phase agg over (decile, type) then a row-pivot —
    // no per-column shuffle. Oracle uses explicit conditional aggregates.
    Q(
      "agg_pivot",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("user_decile", (col("user_id") % 10).cast("int"))
          .groupBy("user_decile")
          .pivot("event_type",
            Seq("click", "view", "purchase", "signup", "error"))
          .agg(count(lit(1)))
          .orderBy("user_decile"),
      oracle = Some("""
        SELECT CAST(user_id % 10 AS INT) AS user_decile,
               count(*) FILTER (event_type = 'click')    AS click,
               count(*) FILTER (event_type = 'view')     AS view,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup')   AS signup,
               count(*) FILTER (event_type = 'error')    AS error
        FROM events GROUP BY 1 ORDER BY user_decile""")),

    // Ordered-argument aggregates: the value at the extremum of another
    // column (min_by/max_by) — single-pass, no window needed. The ordering
    // value folds the order key in (price ties exist in the data; scaled
    // price + key stays exact within double's 2^53 integer range), so the
    // extremum is unique and both engines agree deterministically.
    Q(
      "agg_minmax_by",
      (s, dir) =>
        Tables.orders(s, dir)
          .withColumn("ord", col("o_totalprice") * 1000000000.0 + col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(
            max_by(col("o_orderkey"), col("ord")).as("priciest_order"),
            min_by(col("o_orderkey"), col("ord")).as("cheapest_order"),
            round(max("o_totalprice"), 4).as("max_price"))
          .orderBy("o_orderstatus"),
      oracle = Some("""
        SELECT o_orderstatus,
               arg_max(o_orderkey, o_totalprice * 1000000000.0 + o_orderkey)
                 AS priciest_order,
               arg_min(o_orderkey, o_totalprice * 1000000000.0 + o_orderkey)
                 AS cheapest_order,
               round(max(o_totalprice), 4) AS max_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // collect_list/collect_set, rendered as a sorted joined string so the
    // oracle comparison is representation-stable across engines.
    Q(
      "agg_collect",
      (s, dir) =>
        Tables.events(s, dir)
          .filter(col("user_id") < 20)
          .groupBy(col("user_id"))
          .agg(
            concat_ws(",", sort_array(collect_set(col("event_type"))))
              .as("types_seen"),
            size(collect_list(col("event_id"))).as("n_events"))
          .orderBy("user_id"),
      oracle = Some("""
        SELECT user_id,
               string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_seen,
               count(event_id) AS n_events
        FROM events
        WHERE user_id < 20
        GROUP BY user_id
        ORDER BY user_id""")),

    // Unpivot (melt): wide per-lang stats back to (lang, metric, value)
    // long form — the inverse of agg_pivot, via the native unpivot
    // operator (Expand under the hood, no join). Values unify to double.
    Q(
      "agg_unpivot",
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).cast("double").as("n_docs"),
            round(avg("n_chars"), 4).as("avg_chars"),
            max("n_chars").cast("double").as("max_chars"))
          .unpivot(Array(col("lang")),
            Array(col("n_docs"), col("avg_chars"), col("max_chars")),
            "metric", "value")
          .orderBy("lang", "metric"),
      oracle = Some("""
        WITH w AS (
          SELECT lang, CAST(count(*) AS DOUBLE) AS n_docs,
                 round(avg(n_chars), 4) AS avg_chars,
                 CAST(max(n_chars) AS DOUBLE) AS max_chars
          FROM documents GROUP BY 1)
        SELECT lang, 'n_docs' AS metric, n_docs AS value FROM w
        UNION ALL
        SELECT lang, 'avg_chars', avg_chars FROM w
        UNION ALL
        SELECT lang, 'max_chars', max_chars FROM w
        ORDER BY lang, metric""")),

    // Exact order statistics + deterministic mode per group. percentile()
    // is Spark's exact continuous-interpolation quantile (DuckDB
    // quantile_cont / median agree on the definition). Mode is computed
    // explicitly (count per value, rank by count DESC then value ASC) so
    // the tie-break is deterministic in BOTH engines — the built-in
    // mode() leaves ties unspecified. At scale the quantile is the
    // expensive half (exact percentile collects per-group value
    // multisets); the sketch path for 100 TB is udaf_qdigest — this op
    // is the exact-answer complement.
    Q(
      "agg_median_mode",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val quant = li.groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_quantity, 0.5)"), 4).as("med_qty"),
            round(expr("percentile(l_quantity, 0.25)"), 4).as("p25_qty"),
            round(expr("percentile(l_quantity, 0.75)"), 4).as("p75_qty"),
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("med_price"))
        val counts = li.groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("c"))
        val mode = counts
          .withColumn("rn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy("l_returnflag")
              .orderBy(col("c").desc, col("l_quantity").asc)))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("l_quantity").as("mode_qty"))
        quant.join(mode, "l_returnflag").orderBy("l_returnflag")
      },
      oracle = Some("""
        WITH counts AS (
          SELECT l_returnflag, l_quantity, count(*) AS c
          FROM lineitem GROUP BY 1, 2),
        mode AS (
          SELECT l_returnflag, l_quantity AS mode_qty
          FROM (SELECT l_returnflag, l_quantity,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY c DESC, l_quantity ASC) AS rn
                FROM counts)
          WHERE rn = 1),
        quant AS (
          SELECT l_returnflag,
                 round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
                 round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
                 round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty,
                 round(quantile_cont(l_extendedprice, 0.5), 4) AS med_price
          FROM lineitem GROUP BY 1)
        SELECT q.l_returnflag, med_qty, p25_qty, p75_qty, med_price, mode_qty
        FROM quant q JOIN mode m ON q.l_returnflag = m.l_returnflag
        ORDER BY q.l_returnflag""")),

    // Exact COUNT(DISTINCT) as a mergeable bitmap summary: key k sets bit
    // (k mod 64) of word (k div 64); bit_or is the merge. The shuffle
    // carries one row per (group, occupied word) — for dense key spaces
    // that is |keys|/64 rows instead of |keys|, and unlike count(distinct)
    // (which Spark plans as a two-phase Expand+double shuffle) the words
    // partial-aggregate map-side and stay mergeable across any further
    // rollup. This is the exact counterpart of udaf_hll (approximate) —
    // use bitmaps when keys are dense integers, HLL when they are not.
    Q(
      "agg_bitmap_distinct",
      (s, dir) =>
        Tables.orders(s, dir)
          .select(col("o_orderpriority"),
            (col("o_custkey") / 64).cast("long").as("word"),
            expr("shiftleft(1L, CAST(o_custkey % 64 AS INT))").as("bit"))
          .groupBy("o_orderpriority", "word")
          .agg(expr("bit_or(bit)").as("w"))
          .groupBy("o_orderpriority")
          .agg(sum(bit_count(col("w"))).as("n_customers"))
          .orderBy("o_orderpriority"),
      oracle = Some("""
        SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // Simple linear regression (price ~ quantity) per group, computed
    // from EXACT decimal moment sums so both engines feed bit-identical
    // doubles into the same closed-form formula — the regr_slope /
    // regr_intercept built-ins accumulate doubles in engine-specific
    // order and can diverge past round(4). The moment sums are one
    // map-side-combined shuffle row per group (5 numbers), the canonical
    // distributed-OLS shape at any scale.
    Q(
      "agg_regression",
      (s, dir) => {
        val x = col("l_quantity").cast("decimal(12,2)")
        val y = col("l_extendedprice").cast("decimal(12,2)")
        val m = Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * y).cast("double").as("sxy"),
            sum(x * x).cast("double").as("sxx"),
            sum(y * y).cast("double").as("syy"))
        val cxy = col("n") * col("sxy") - col("sx") * col("sy")
        val vx  = col("n") * col("sxx") - col("sx") * col("sx")
        val vy  = col("n") * col("syy") - col("sy") * col("sy")
        m.select(col("l_returnflag"),
            col("n").cast("long").as("n_rows"),
            round(cxy / vx, 4).as("slope"),
            round((col("sy") - (cxy / vx) * col("sx")) / col("n"), 4)
              .as("intercept"),
            round(cxy * cxy / (vx * vy), 4).as("r2"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        WITH m AS (
          SELECT l_returnflag,
                 CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) *
                          CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) *
                          CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                          CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n_rows,
               round((n*sxy - sx*sy) / (n*sxx - sx*sx), 4) AS slope,
               round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 4)
                 AS intercept,
               round((n*sxy - sx*sy) * (n*sxy - sx*sy) /
                     ((n*sxx - sx*sx) * (n*syy - sy*sy)), 4) AS r2
        FROM m ORDER BY l_returnflag""")),

    // Ordered string aggregation (LISTAGG): names per nation in a pinned
    // order. collect_list is the one non-mergeable aggregate in this
    // module — its memory is O(group payload), so it is ONLY for
    // human-bounded groups (here ≤ a few thousand names); the unbounded
    // equivalent at 100 TB is packNextFit / a sorted sink, not a bigger
    // collect. Sort happens inside the row (array_sort), so no extra
    // shuffle beyond the group-by.
    Q(
      "agg_string_agg",
      (s, dir) =>
        Tables.customer(s, dir)
          .groupBy("c_nationkey")
          .agg(
            count(lit(1)).as("n_customers"),
            array_join(array_sort(collect_list(col("c_name"))), ",")
              .as("names"))
          .orderBy("c_nationkey"),
      oracle = Some("""
        SELECT c_nationkey,
               count(*) AS n_customers,
               string_agg(c_name, ',' ORDER BY c_name) AS names
        FROM customer
        GROUP BY c_nationkey
        ORDER BY c_nationkey""")),

    // Welch two-sample t between the corpus half-months per event type —
    // the A/B slice readout, built on the same exact-power-sum discipline
    // as agg_moments below (decimal accumulation; double math only over
    // the exact sums).
    Q(
      "agg_welch_ttest",
      (s, dir) =>
        // Welch's two-sample t between the corpus half-months, per event
        // type — api.Quality.welchTTest (exact cent sums, one scan,
        // shared-structure double expressions, round 4).
        graft.api.Quality.welchTTest(
          Tables.events(s, dir), col("event_type"),
          col("ts") < lit("2024-01-16").cast("timestamp"), col("value"))
          .orderBy("grp"),
      oracle = Some("""
        WITH b AS (
          SELECT event_type AS grp,
                 ts < TIMESTAMP '2024-01-16' AS in_a,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL),
        m AS (
          SELECT grp,
                 CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
                 CAST(sum(CASE WHEN in_a THEN c ELSE 0 END) AS DOUBLE)
                   AS s1a,
                 CAST(sum(CASE WHEN in_a THEN c*c ELSE 0 END) AS DOUBLE)
                   AS s2a,
                 CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb,
                 CAST(sum(CASE WHEN NOT in_a THEN c ELSE 0 END) AS DOUBLE)
                   AS s1b,
                 CAST(sum(CASE WHEN NOT in_a THEN c*c ELSE 0 END) AS DOUBLE)
                   AS s2b
          FROM b GROUP BY 1
          HAVING sum(CASE WHEN in_a THEN 1 ELSE 0 END) >= 2
             AND sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) >= 2),
        t AS (
          SELECT grp, na, nb,
                 s1a / na AS ma, s1b / nb AS mb,
                 (s2a - s1a * s1a / na) / (na - 1) / na AS sea,
                 (s2b - s1b * s1b / nb) / (nb - 1) / nb AS seb
          FROM m)
        SELECT grp, na, nb,
               round(ma / 100.0, 4) AS mean_a,
               round(mb / 100.0, 4) AS mean_b,
               round((ma - mb) / sqrt(sea + seb), 4) AS t_stat,
               round((sea + seb) * (sea + seb) /
                 (sea * sea / (na - 1) + seb * seb / (nb - 1)), 1) AS dof
        FROM t ORDER BY grp""")),

    // Two-sample Kolmogorov-Smirnov D between the 'view' and 'click'
    // value distributions — the nonparametric drift readout (is the
    // metric distribution the same in both slices?). Exact integer
    // discipline end to end: values become cents, the sup runs over the
    // VALUE HISTOGRAM (one map-combined groupBy; the windowed CDF scan
    // touches distinct-cents rows, bounded by the value domain, never
    // the event count), and the CDF gap is the cross-multiplied integer
    // |cumA·nB − cumB·nA| so the argmax cannot be moved by float
    // summation order. Valid while nA·nB < 2^63 (≈3e9 rows per side);
    // past that the gap switches to double CDFs and the certificate
    // becomes approximate. Doubles appear only in the final one-row
    // D = gap/(nA·nB) and the ks_lambda normalization.
    Q(
      "agg_ks_test",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val h = viewClickCentHistogram(s, dir)
        val wc = Window.orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy()
        val k = h.select(col("c"),
          sum("ca").over(wc).as("cum_a"),
          sum("cb").over(wc).as("cum_b"),
          sum("ca").over(wt).as("na"),
          sum("cb").over(wt).as("nb"))
        val dn = abs(col("cum_a") * col("nb") - col("cum_b") * col("na"))
        val dd = dn.cast("double") /
          (col("na") * col("nb")).cast("double")
        k.select(col("na"), col("nb"), col("c"),
            dn.as("dn"), dd.as("dd"))
          .orderBy(col("dn").desc, col("c"))
          .limit(1)
          .select(col("na"), col("nb"),
            round(col("c") / 100.0, 2).as("x_at_max"),
            round(col("dd"), 4).as("d_stat"),
            round(col("dd") *
              sqrt(col("na").cast("double") * col("nb") /
                (col("na") + col("nb")).cast("double")), 4)
              .as("ks_lambda"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT event_type = 'view' AS in_a,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events
          WHERE value IS NOT NULL AND event_type IN ('view', 'click')),
        h AS (
          SELECT c,
                 CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
          FROM b GROUP BY c),
        k AS (
          SELECT c,
                 CAST(sum(ca) OVER (ORDER BY c) AS BIGINT) AS cum_a,
                 CAST(sum(cb) OVER (ORDER BY c) AS BIGINT) AS cum_b,
                 CAST(sum(ca) OVER () AS BIGINT) AS na,
                 CAST(sum(cb) OVER () AS BIGINT) AS nb
          FROM h),
        d AS (
          SELECT c, na, nb,
                 abs(cum_a * nb - cum_b * na) AS dn,
                 CAST(abs(cum_a * nb - cum_b * na) AS DOUBLE)
                   / CAST(na * nb AS DOUBLE) AS dd
          FROM k)
        SELECT na, nb,
               round(c / 100.0, 2) AS x_at_max,
               round(dd, 4) AS d_stat,
               round(dd * sqrt(CAST(na AS DOUBLE) * nb
                 / CAST(na + nb AS DOUBLE)), 4) AS ks_lambda
        FROM d ORDER BY dn DESC, c LIMIT 1""")),

    // Mann-Whitney U (rank-sum) between the same view/click slices as
    // agg_ks_test — the nonparametric LOCATION test completing the
    // two-sample triad (Welch = parametric mean, KS = whole
    // distribution, U = stochastic dominance). No per-row ranks are ever
    // materialized: over the cent-value histogram, U_A = Σ_c ca·(#B<c +
    // tiesB/2), carried doubled (2U = Σ ca·(2·blt + cb)) so the whole
    // statistic is ONE exact integer; the tie-corrected normal sigma
    // uses Σ(t³−t), exact in decimal(38,0)/HUGEINT (a long t³ would
    // wrap at t ≥ 2^21 rows per cent). Doubles appear only in the
    // final one-row z. The cumulative window scans distinct-cents rows
    // (bounded by the value domain), never the event count; overflow
    // bounds: na·nb < 2^63 for 2U (as agg_ks_test), per-cent count
    // < ~4.6e12 for the tie cube.
    Q(
      "agg_mannwhitney",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val h = viewClickCentHistogram(s, dir)
        val wlt = Window.orderBy("c")
          .rowsBetween(Window.unboundedPreceding, -1)
        // Tie cube in decimal(38,0), not long: t³ wraps a long at
        // t ≥ 2^21 (~2.1M rows sharing one cent — reachable long
        // before the na·nb bound), and a wrapped Spark long would
        // diverge from DuckDB's erroring BIGINT. Decimal/HUGEINT hold
        // to t < ~4.6e12 — beyond any per-cent count at 100 TB.
        val t = (col("ca") + col("cb")).cast("decimal(38,0)")
        val k = h.select(col("ca"), col("cb"),
          coalesce(sum("cb").over(wlt), lit(0L)).as("blt"),
          (t * t * t - t).as("t3"))
        val g = k.agg(
          sum("ca").as("na"), sum("cb").as("nb"),
          sum(col("ca") * (lit(2L) * col("blt") + col("cb"))).as("u2"),
          sum("t3").as("tie3"))
        val na = col("na").cast("double")
        val nb = col("nb").cast("double")
        val n = na + nb
        val sig2 = na * nb / 12.0 *
          ((n + 1.0) - col("tie3").cast("double") / (n * (n - 1.0)))
        val z = (col("u2") - col("na") * col("nb")).cast("double") /
          (lit(2.0) * sqrt(sig2))
        g.select(col("na"), col("nb"),
          round(col("u2") / 2.0, 1).as("u_a"),
          round(z, 4).as("z"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT event_type = 'view' AS in_a,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events
          WHERE value IS NOT NULL AND event_type IN ('view', 'click')),
        h AS (
          SELECT c,
                 CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
          FROM b GROUP BY c),
        k AS (
          SELECT ca, cb,
                 CAST(coalesce(sum(cb) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS blt,
                 CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
                   - (ca + cb) AS t3
          FROM h),
        g AS (
          SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb,
                 CAST(sum(ca * (2 * blt + cb)) AS BIGINT) AS u2,
                 sum(t3) AS tie3
          FROM k)
        SELECT na, nb, round(u2 / 2.0, 1) AS u_a,
               round(CAST(u2 - na * nb AS DOUBLE) /
                 (2.0 * sqrt(CAST(na AS DOUBLE) * nb / 12.0 *
                   ((CAST(na AS DOUBLE) + nb + 1.0)
                    - CAST(tie3 AS DOUBLE)
                      / (CAST(na + nb AS DOUBLE)
                         * (CAST(na AS DOUBLE) + nb - 1.0))))), 4) AS z
        FROM g""")),

    // Chi-squared independence test of event_type × day-of-week — the
    // categorical-association readout (is traffic mix stable across the
    // week?). The contingency table is ONE map-combined groupBy whose
    // output is bounded by |types|·7 cells regardless of row count;
    // row/column/grand totals come from windows over that cell frame
    // (no second scan). Each cell's (obs−exp)²/exp is an
    // identically-structured IEEE expression over exact integers on
    // both engines, quantized to 1e-9 fixed point per cell and summed
    // as integers — so the Σ over cells is order-free and the 4-decimal
    // χ² cannot be moved by summation order (the perplexity trick).
    Q(
      "agg_chi2",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cells0 = Tables.events(s, dir)
          .select(col("event_type").as("et"),
            expr("(unix_micros(ts) div 86400000000) % 7").as("dow"))
          .groupBy("et", "dow").agg(count(lit(1)).as("obs"))
        // Densify to the FULL R×C grid: a structurally-absent cell
        // (type never seen on that weekday) still has expected count
        // e = rt·ct/n > 0 and must contribute (0−e)²/e = e, or χ² is
        // biased low against the (R−1)(C−1) dof. The cross join is two
        // tiny distinct frames — bounded by |types|·7, never data.
        val cells = cells0.select("et").distinct()
          .crossJoin(cells0.select("dow").distinct())
          .join(cells0, Seq("et", "dow"), "left")
          .select(col("et"), col("dow"),
            coalesce(col("obs"), lit(0L)).as("obs"))
        val k = cells.select(col("et"), col("dow"), col("obs"),
          sum("obs").over(Window.partitionBy("et")).as("rt"),
          sum("obs").over(Window.partitionBy("dow")).as("ct"),
          sum("obs").over(Window.partitionBy()).as("n"))
        val e = col("rt").cast("double") * col("ct") / col("n")
        val term = (col("obs") - e) * (col("obs") - e) / e
        k.select(col("et"), col("dow"), col("n"),
            round(term * 1e9, 0).cast("long").as("tq"))
          .agg(max("n").as("n"), count(lit(1)).as("n_cells"),
            ((countDistinct("et") - 1) * (countDistinct("dow") - 1))
              .as("dof"),
            round(sum("tq") / 1e9, 4).as("chi2"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT event_type AS et,
                 (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 7
                   AS dow
          FROM events),
        cells0 AS (SELECT et, dow, count(*) AS obs
                   FROM b GROUP BY et, dow),
        cells AS (
          SELECT de.et, dd.dow, CAST(coalesce(c.obs, 0) AS BIGINT) AS obs
          FROM (SELECT DISTINCT et FROM cells0) de
          CROSS JOIN (SELECT DISTINCT dow FROM cells0) dd
          LEFT JOIN cells0 c ON c.et = de.et AND c.dow = dd.dow),
        k AS (
          SELECT et, dow, CAST(obs AS BIGINT) AS obs,
                 CAST(sum(obs) OVER (PARTITION BY et) AS BIGINT) AS rt,
                 CAST(sum(obs) OVER (PARTITION BY dow) AS BIGINT) AS ct,
                 CAST(sum(obs) OVER () AS BIGINT) AS n
          FROM cells),
        q AS (
          SELECT et, dow, n,
                 CAST(round((obs - CAST(rt AS DOUBLE) * ct / n)
                   * (obs - CAST(rt AS DOUBLE) * ct / n)
                   / (CAST(rt AS DOUBLE) * ct / n) * 1e9) AS BIGINT) AS tq
          FROM k)
        SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS n_cells,
               CAST((count(DISTINCT et) - 1) * (count(DISTINCT dow) - 1)
                 AS BIGINT) AS dof,
               round(CAST(sum(tq) AS BIGINT) / 1e9, 4) AS chi2
        FROM q""")),

    // Spearman rank correlation of basket size vs basket value — each
    // order's line count against its total line value in $100 bins
    // (ρ ≈ 0.85 on this corpus: more lines, bigger basket — the
    // monotone-association readout that survives outliers and nonlinear
    // scaling where Pearson/agg_regression does not; the raw
    // quantity-price pairs are independent by construction here, rho
    // 0.003, the vacuous-demo trap). No per-row ranks are ever sorted:
    // each variable's average-tie rank comes from its VALUE HISTOGRAM
    // (rank·2 = 2·#below + ties + 1, an exact integer), the order frame
    // joins back to the two histograms on the value key — line-count
    // domain ≤ max basket size, value domain ≤ max-basket/$100, both
    // broadcastable at any corpus scale, so a global sort of the fact
    // frame never happens — and ρ is Pearson over the doubled ranks:
    // exact decimal(38,0) moment sums (n·Σxy ≤ 4n⁴, inside decimal38
    // to n ≈ 1e9 orders), then ONE shared-structure double expression
    // (agg_moments discipline).
    Q(
      "agg_spearman",
      (s, dir) => {
        val basket = Tables.lineitem(s, dir)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("q"),
            expr("sum(cast(round(l_extendedprice * 100) as bigint))" +
              " div 10000").as("p"))
        graft.api.Quality.spearmanRho(basket, col("q"), col("p"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT CAST(count(*) AS BIGINT) AS q,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   // 10000 AS BIGINT) AS p
          FROM lineitem GROUP BY l_orderkey),
        hq AS (
          SELECT q,
                 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY q
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) + cnt + 1 AS r2q
          FROM (SELECT q, count(*) AS cnt FROM b GROUP BY q)),
        hp AS (
          SELECT p,
                 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) + cnt + 1 AS r2p
          FROM (SELECT p, count(*) AS cnt FROM b GROUP BY p)),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(r2q AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(r2p AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(r2q AS DECIMAL(38,0)) * r2p) AS DOUBLE)
                   AS sxy,
                 CAST(sum(CAST(r2q AS DECIMAL(38,0)) * r2q) AS DOUBLE)
                   AS sxx,
                 CAST(sum(CAST(r2p AS DECIMAL(38,0)) * r2p) AS DOUBLE)
                   AS syy
          FROM b JOIN hq USING (q) JOIN hp USING (p))
        SELECT n AS n_rows,
               round((n * sxy - sx * sy) /
                 sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
                 AS rho
        FROM m""")),

    // Lag-1 autocorrelation of the ZERO-FILLED daily event-count series
    // per event type — the periodicity/burstiness readout behind every
    // ingest-seasonality dashboard. Absent days matter (a gap is a zero,
    // not a missing pair), so each type's day span is densified with
    // sequence+explode BEFORE pairing — per-type fan-out bounded by the
    // calendar span, never the event count. Pairs come from one lead()
    // window per type; the Pearson moments Σx, Σy, Σxy, Σx², Σy² are
    // exact decimal sums (agg_moments discipline — daily counts are
    // integers, so the sums are order-free), and r is one
    // shared-structure double expression over them.
    // Hurst exponent by rescaled-range (R/S) analysis over the zero-filled
    // HOURLY event series — the long-memory readout beside agg_autocorr's
    // lag-1 and text_burstiness' dispersion: H ≈ 0.5 is independent
    // arrivals, H → 1 is trending/self-similar load (the capacity-planning
    // distinction). Exactness discipline: within a block of n hours both
    // R's numerator (max−min of n·cum_j − j·total) and n²·variance are
    // EXACT INTEGERS, and ln(R/S) = ln R_int − ½ ln V_int, so only ln of
    // integers is ever quantized (text_zipf's 1e-6 rule, carried in
    // DOUBLED micro-units to keep the ½ integer). H is the 3-point OLS
    // slope over ln n ∈ {16, 48, 144}, emitted as sign-split floor
    // milli-units. Blocks with a degenerate R or V are excluded on both
    // sides. Honest readout ≈ 0.5 (the synthetic arrivals are memoryless).
    // Scale: the series is calendar-sized (hours), not event-sized — one
    // hash aggregate reduces the corpus, everything after is O(hours).
    Q(
      "agg_hurst",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, dir)
          .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("c0"))
        val bounds = hourly.agg(min("hr").as("lo"), max("hr").as("hi"))
        val filled = bounds
          .select(col("lo"), explode(sequence(col("lo"), col("hi")))
            .as("hr"))
          .join(hourly, Seq("hr"), "left")
          .select(col("hr"), (col("hr") - col("lo")).as("rel"),
            coalesce(col("c0"), lit(0L)).as("c"))
        import s.implicits._
        val sizes = Seq(16L, 48L, 144L).toDF("bn")
        val blk = filled.crossJoin(broadcast(sizes))
          .select(col("bn"), expr("rel div bn").as("block"),
            (col("rel") % col("bn")).as("pos"), col("c"))
        val wc = Window.partitionBy("bn", "block").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("bn", "block")
        val dev = blk
          .withColumn("cum", sum("c").over(wc))
          .withColumn("total", sum("c").over(wt))
          .withColumn("nin", count(lit(1)).over(wt))
          .filter(col("nin") === col("bn"))
          .select(col("bn"), col("block"), col("c"), col("total"),
            (col("bn") * col("cum") - (col("pos") + 1) * col("total"))
              .as("dev"))
        val rv = dev.groupBy("bn", "block")
          .agg((max("dev") - min("dev")).as("r_int"),
            (first("bn") * sum(col("c") * col("c")) -
              first("total") * first("total")).as("v_int"))
          .filter(col("r_int") > 0 && col("v_int") > 0)
          .select(col("bn"),
            (lit(2L) * round(log(col("r_int").cast("double")) * 1e6, 0)
              .cast("long") -
              round(log(col("v_int").cast("double")) * 1e6, 0)
                .cast("long")).as("lnrs2"))
        val pts = rv.groupBy("bn")
          .agg(count(lit(1)).as("n_blocks"),
            expr("sum(lnrs2) div count(1)").as("mean_lnrs2_micro"))
          .withColumn("x",
            round(log(col("bn").cast("double")) * 1e6, 0).cast("long"))
        val m = pts.agg(count(lit(1)).as("k"),
          sum("x").as("sx"), sum("mean_lnrs2_micro").as("sy"),
          sum(col("x") * col("mean_lnrs2_micro")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        val h = m.select(
          (col("k") * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("den"))
          .select(when(col("num") >= 0,
            expr("(1000 * num) div (2 * den)"))
            .otherwise(-expr("(1000 * (-num)) div (2 * den)"))
            .as("h_milli"))
        pts.select(col("bn").as("n"), col("n_blocks"),
            col("mean_lnrs2_micro"))
          .crossJoin(broadcast(h))
          .orderBy("n")
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
                 CAST(count(*) AS BIGINT) AS c0
          FROM events GROUP BY 1),
        bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
        filled AS (
          SELECT g.hr, g.hr - (SELECT lo FROM bounds) AS rel,
                 coalesce(h.c0, 0) AS c
          FROM (SELECT unnest(generate_series(lo, hi)) AS hr
                FROM bounds) g
          LEFT JOIN hourly h ON h.hr = g.hr),
        blk AS (
          SELECT bn, rel // bn AS block, rel % bn AS pos, c
          FROM filled, (SELECT unnest([16, 48, 144]) AS bn)),
        dev AS (
          SELECT bn, block, c, pos,
                 sum(c) OVER (PARTITION BY bn, block ORDER BY pos) AS cum,
                 sum(c) OVER (PARTITION BY bn, block) AS total,
                 count(*) OVER (PARTITION BY bn, block) AS nin
          FROM blk),
        rv AS (
          SELECT bn,
                 max(bn * cum - (pos + 1) * total)
                   - min(bn * cum - (pos + 1) * total) AS r_int,
                 bn * sum(c * c) - any_value(total) * any_value(total)
                   AS v_int
          FROM dev WHERE nin = bn
          GROUP BY bn, block),
        lnrs AS (
          SELECT bn,
                 2 * CAST(round(ln(r_int) * 1e6, 0) AS BIGINT)
                   - CAST(round(ln(v_int) * 1e6, 0) AS BIGINT) AS lnrs2
          FROM rv WHERE r_int > 0 AND v_int > 0),
        pts AS (
          SELECT bn, count(*) AS n_blocks,
                 CAST(sum(lnrs2) AS BIGINT) // count(*)
                   AS mean_lnrs2_micro,
                 CAST(round(ln(bn) * 1e6, 0) AS BIGINT) AS x
          FROM lnrs GROUP BY bn),
        m AS (
          SELECT count(*) AS k, CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(mean_lnrs2_micro) AS BIGINT) AS sy,
                 CAST(sum(x * mean_lnrs2_micro) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM pts),
        h AS (
          SELECT CASE WHEN (k * sxy - sx * sy) >= 0
                 THEN (1000 * (k * sxy - sx * sy))
                        // (2 * (k * sxx - sx * sx))
                 ELSE -((1000 * (sx * sy - k * sxy))
                        // (2 * (k * sxx - sx * sx))) END AS h_milli
          FROM m)
        SELECT bn AS n, n_blocks, mean_lnrs2_micro, h_milli
        FROM pts, h ORDER BY n""")),

    Q(
      "agg_autocorr",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type").as("et"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("x0"))
        val filled = daily.groupBy("et")
          .agg(min("day").as("lo"), max("day").as("hi"))
          .select(col("et"),
            explode(sequence(col("lo"), col("hi"))).as("day"))
          .join(daily, Seq("et", "day"), "left")
          .select(col("et"), col("day"),
            coalesce(col("x0"), lit(0L)).as("x"))
        val wl = Window.partitionBy("et").orderBy("day")
        val d = (c: org.apache.spark.sql.Column) =>
          c.cast("decimal(18,0)")
        val p = filled
          .select(col("et"), col("x"), lead("x", 1).over(wl).as("y"))
          .filter(col("y").isNotNull)
        val m = p.groupBy("et").agg(
          count(lit(1)).as("n"),
          sum(d(col("x"))).cast("double").as("sx"),
          sum(d(col("y"))).cast("double").as("sy"),
          sum(d(col("x")) * d(col("y"))).cast("double").as("sxy"),
          sum(d(col("x")) * d(col("x"))).cast("double").as("sxx"),
          sum(d(col("y")) * d(col("y"))).cast("double").as("syy"))
        val nd = col("n").cast("double")
        m.select(col("et"), col("n").as("n_pairs"),
            round((nd * col("sxy") - col("sx") * col("sy")) /
              sqrt((nd * col("sxx") - col("sx") * col("sx")) *
                (nd * col("syy") - col("sy") * col("sy"))), 4)
              .as("r_lag1"))
          .orderBy("et")
      },
      oracle = Some("""
        WITH daily AS (
          SELECT event_type AS et,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 CAST(count(*) AS BIGINT) AS x0
          FROM events GROUP BY 1, 2),
        alld AS (
          SELECT et, unnest(generate_series(lo, hi)) AS day
          FROM (SELECT et, min(day) AS lo, max(day) AS hi
                FROM daily GROUP BY et)),
        filled AS (
          SELECT a.et, a.day, CAST(coalesce(d.x0, 0) AS BIGINT) AS x
          FROM alld a LEFT JOIN daily d
            ON a.et = d.et AND a.day = d.day),
        p AS (
          SELECT et, x, y FROM (
            SELECT et, x,
                   lead(x) OVER (PARTITION BY et ORDER BY day) AS y
            FROM filled) WHERE y IS NOT NULL),
        m AS (
          SELECT et, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS DOUBLE) AS sx,
                 CAST(sum(y) AS DOUBLE) AS sy,
                 CAST(sum(x * y) AS DOUBLE) AS sxy,
                 CAST(sum(x * x) AS DOUBLE) AS sxx,
                 CAST(sum(y * y) AS DOUBLE) AS syy
          FROM p GROUP BY et)
        SELECT et, n AS n_pairs,
               round((CAST(n AS DOUBLE) * sxy - sx * sy) /
                 sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
                   (CAST(n AS DOUBLE) * syy - sy * sy)), 4) AS r_lag1
        FROM m ORDER BY et""")),

    // Median absolute deviation per event type — the robust spread that
    // agg_outliers' z-scores cannot give (one planted 1e9 value moves a
    // stddev but not a MAD). EXACT on any row count via the
    // dq_skew_report rank-on-histogram discipline, twice: the median is
    // the min cent whose cumulative count reaches ceil(n/2) (lower
    // median on even counts, documented), then |c − med| re-histograms
    // the SAME cent frame (checkpointed once, scanned twice — never the
    // raw table) and the same rank threshold reads the MAD. Both
    // cumulative windows scan distinct-cents rows per type, bounded by
    // the value domain, never the event count. Everything is BIGINT
    // until the display /100.0 (exact: cents have 2 decimals).
    Q(
      "agg_mad",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val h = Cut(Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("event_type").as("et"),
            round(col("value") * 100, 0).cast("long").as("c"))
          .groupBy("et", "c").agg(count(lit(1)).as("f"))).df
        val wc = Window.partitionBy("et").orderBy("c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val med = h.withColumn("cum", sum("f").over(wc))
          .withColumn("n", sum("f").over(Window.partitionBy("et")))
          .groupBy("et").agg(max("n").as("n"),
            min(when(col("cum") >= expr("(n + 1) div 2"), col("c")))
              .as("med"))
        val dev = h.join(broadcast(med), "et")
          .groupBy(col("et"), abs(col("c") - col("med")).as("ad"))
          .agg(sum("f").as("f"))
        val wd = Window.partitionBy("et").orderBy("ad")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dev.withColumn("cum", sum("f").over(wd))
          .join(broadcast(med), "et")
          .groupBy("et").agg(max("n").as("n"),
            round(max("med") / 100.0, 2).as("median"),
            round(min(when(col("cum") >= expr("(n + 1) div 2"),
              col("ad"))) / 100.0, 2).as("mad"))
          .orderBy("et")
      },
      oracle = Some("""
        WITH b AS (
          SELECT event_type AS et,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL),
        h AS (SELECT et, c, CAST(count(*) AS BIGINT) AS f
              FROM b GROUP BY et, c),
        cum AS (
          SELECT et, c, f,
                 CAST(sum(f) OVER (PARTITION BY et ORDER BY c)
                   AS BIGINT) AS cum,
                 CAST(sum(f) OVER (PARTITION BY et) AS BIGINT) AS n
          FROM h),
        med AS (
          SELECT et, max(n) AS n,
                 min(CASE WHEN cum >= (n + 1) // 2 THEN c END) AS med
          FROM cum GROUP BY et),
        dev AS (
          SELECT h.et, abs(h.c - m.med) AS ad,
                 CAST(sum(h.f) AS BIGINT) AS f
          FROM h JOIN med m ON h.et = m.et
          GROUP BY h.et, abs(h.c - m.med)),
        dc AS (
          SELECT et, ad,
                 CAST(sum(f) OVER (PARTITION BY et ORDER BY ad)
                   AS BIGINT) AS cum
          FROM dev)
        SELECT m.et, m.n,
               round(m.med / 100.0, 2) AS median,
               round(min(CASE WHEN dc.cum >= (m.n + 1) // 2
                 THEN dc.ad END) / 100.0, 2) AS mad
        FROM dc JOIN med m ON dc.et = m.et
        GROUP BY m.et, m.n, m.med ORDER BY m.et""")),

    // Higher central moments (variance/skewness/excess kurtosis) from
    // exact decimal power sums: the built-in skewness()/kurtosis() do
    // streaming double accumulation whose order differs per engine; exact
    // s1..s4 (decimal, overflow-checked: |x|<=10^6 scale 2 keeps x^4 sums
    // inside decimal(38,8) to ~10^13 rows) make the downstream double
    // math bit-identical. sqrt(m2)*m2 instead of pow(m2,1.5) keeps every
    // double op correctly-rounded IEEE — pow is the one libm call whose
    // last ulp differs across runtimes.
    Q(
      "agg_moments",
      (s, dir) => {
        val x  = col("l_quantity").cast("decimal(8,2)")
        val m = Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(x).cast("double").as("s1"),
            sum(x * x).cast("double").as("s2"),
            sum(x * x * x).cast("double").as("s3"),
            sum(x * x * x * x).cast("double").as("s4"))
        val mean = col("s1") / col("n")
        val m2 = col("s2") / col("n") - mean * mean
        val m3 = col("s3") / col("n") - lit(3.0) * mean * (col("s2") / col("n")) +
          lit(2.0) * mean * mean * mean
        val m4 = col("s4") / col("n") - lit(4.0) * mean * (col("s3") / col("n")) +
          lit(6.0) * mean * mean * (col("s2") / col("n")) -
          lit(3.0) * mean * mean * mean * mean
        m.select(col("l_returnflag"),
            col("n").cast("long").as("n_rows"),
            round(mean, 4).as("mean_qty"),
            round(m2, 4).as("var_pop"),
            round(m3 / (sqrt(m2) * m2), 4).as("skewness"),
            round(m4 / (m2 * m2) - lit(3.0), 4).as("kurtosis"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        WITH p AS (
          SELECT l_returnflag, CAST(l_quantity AS DECIMAL(8,2)) AS x
          FROM lineitem),
        m AS (
          SELECT l_returnflag,
                 CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(x) AS DOUBLE) AS s1,
                 CAST(sum(x*x) AS DOUBLE) AS s2,
                 CAST(sum(x*x*x) AS DOUBLE) AS s3,
                 CAST(sum(x*x*x*x) AS DOUBLE) AS s4
          FROM p GROUP BY 1),
        c AS (
          SELECT l_returnflag, n, s1/n AS mean,
                 s2/n - (s1/n)*(s1/n) AS m2,
                 s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n) AS m3,
                 s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n)
                      - 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n) AS m4
          FROM m)
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n_rows,
               round(mean, 4) AS mean_qty,
               round(m2, 4) AS var_pop,
               round(m3 / (sqrt(m2) * m2), 4) AS skewness,
               round(m4 / (m2 * m2) - 3.0, 4) AS kurtosis
        FROM c ORDER BY l_returnflag""")),

    // FILTER-clause aggregates: several differently-conditioned measures
    // in ONE pass over the table (vs one scan per condition). Spark's
    // spelling is null-skipping agg(when(cond, x)); money sums go
    // through exact decimal so the conditioned subset sums cannot
    // diverge in double accumulation order. One shuffle, map-side
    // partials for every measure.
    Q(
      "agg_filtered",
      (s, dir) => {
        val price = col("o_totalprice").cast("decimal(12,2)")
        val highPrice = when(col("o_totalprice") > 150000.0, price)
        val openPrice = when(col("o_orderstatus") === "O", price)
        Tables.orders(s, dir)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_total"),
            count(highPrice).as("n_high"),
            round(sum(highPrice), 4).cast("double").as("sum_high"),
            count(when(year(col("o_orderdate")) === 1996, lit(1)))
              .as("n_1996"),
            round(sum(openPrice).cast("double") /
              count(openPrice).cast("double"), 4).as("avg_open"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority,
               count(*) AS n_total,
               count(*) FILTER (WHERE o_totalprice > 150000.0) AS n_high,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                     FILTER (WHERE o_totalprice > 150000.0), 4) AS DOUBLE)
                 AS sum_high,
               count(*) FILTER (WHERE year(o_orderdate) = 1996) AS n_1996,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                       FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) /
                     CAST(count(*) FILTER (WHERE o_orderstatus = 'O')
                       AS DOUBLE), 4) AS avg_open
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // Time-series resample: daily OHLC bars per event type. Open/close
    // are min_by/max_by on the µs timestamp (unique in this corpus;
    // argmin selection, not accumulation, so floats stay exact), bucket
    // count is bounded by the time span — output size is independent of
    // row count, the property that makes resampling viable at 100 TB.
    Q(
      "agg_ohlc",
      (s, dir) =>
        Tables.events(s, dir)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            unix_micros(col("ts")).as("mu"), col("value"))
          .groupBy("event_type", "day")
          .agg(
            count(lit(1)).as("n_events"),
            round(min_by(col("value"), col("mu")), 4).as("open"),
            round(max(col("value")), 4).as("high"),
            round(min(col("value")), 4).as("low"),
            round(max_by(col("value"), col("mu")), 4).as("close"))
          .orderBy("event_type", "day"),
      oracle = Some("""
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
               count(*) AS n_events,
               round(arg_min(value, epoch_us(CAST(ts AS TIMESTAMP))), 4)
                 AS open,
               round(max(value), 4) AS high,
               round(min(value), 4) AS low,
               round(arg_max(value, epoch_us(CAST(ts AS TIMESTAMP))), 4)
                 AS close
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2""")),

    // Exponentially-decayed engagement score per user: fold the user's
    // time-ordered values through acc·0.5 + v. Sequential semantics are
    // real (each step halves all history), so this is the one aggregate
    // expressed as an in-row array fold — order pinned by (ts, event_id)
    // struct sort; ×0.5 is an exact exponent shift and both engines run
    // the identical left fold seeded with the first element, so the
    // doubles match bit-for-bit. Bounded by per-user event count, like
    // all per-entity-sequence ops here.
    Q(
      "agg_ewma",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"),
            struct(unix_micros(col("ts")).as("mu"),
              col("event_id").as("i"), col("value").as("v")).as("ste"))
        ev.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            transform(array_sort(collect_list(col("ste"))),
              x => x.getField("v")).as("vs"))
          .select(col("user_id"), col("n_events"),
            round(aggregate(
              slice(col("vs"), lit(2), size(col("vs")) - 1),
              element_at(col("vs"), 1),
              (acc, v) => acc * lit(0.5) + v), 4).as("decayed_score"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH o AS (
          SELECT user_id,
                 array_agg(value ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                           event_id) AS vs,
                 count(*) AS n_events
          FROM events GROUP BY user_id)
        SELECT user_id, n_events,
               round(list_reduce(vs, (acc, v) -> acc * 0.5 + v), 4)
                 AS decayed_score
        FROM o ORDER BY user_id""")),

    // Per-group z-score outlier screen with ENGINE-EXACT boundary
    // decisions: values quantize to integers (×1000), the group moments
    // are exact integer sums, and the z² > 9 test is one shared-structure
    // double expression over those exact inputs — so both engines make
    // the identical keep/flag call on every row (a double mean/stddev
    // accumulated in engine order could flip rows sitting on the
    // boundary). Two passes: tiny moment table broadcasts back.
    Q(
      "agg_outliers",
      (s, dir) => {
        val vq = round(col("value") * 1000, 0).cast("long")
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), vq.as("vq"))
        val m = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("vq")).as("s1"), sum(col("vq") * col("vq")).as("s2"))
        // z² = (v·n − s1)² / (n·s2 − s1²) > 9, computed in double FROM the
        // exact integer sums (the products would overflow long near SF1).
        val d = (c: org.apache.spark.sql.Column) => c.cast("double")
        val num = (d(col("vq")) * d(col("n")) - d(col("s1"))) *
          (d(col("vq")) * d(col("n")) - d(col("s1")))
        val den = d(col("n")) * d(col("s2")) - d(col("s1")) * d(col("s1"))
        ev.join(broadcast(m), "event_type")
          .withColumn("is_out", num > lit(9.0) * den)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            count(when(col("is_out"), lit(1))).as("n_outliers"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT event_id, event_type,
                 CAST(round(value * 1000, 0) AS BIGINT) AS vq
          FROM events),
        m AS (
          SELECT event_type, count(*) AS n,
                 sum(vq) AS s1, sum(vq * vq) AS s2
          FROM ev GROUP BY 1)
        SELECT ev.event_type,
               count(*) AS n_rows,
               count(*) FILTER (WHERE
                 (CAST(vq AS DOUBLE) * CAST(n AS DOUBLE) -
                  CAST(s1 AS DOUBLE)) *
                 (CAST(vq AS DOUBLE) * CAST(n AS DOUBLE) -
                  CAST(s1 AS DOUBLE)) >
                 9.0 * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
                        CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)))
                 AS n_outliers
        FROM ev JOIN m ON ev.event_type = m.event_type
        GROUP BY ev.event_type
        ORDER BY ev.event_type""")),

    // Shannon entropy of each user's event-type mix — the diversity
    // feature behind bot/spam screens. Counts are exact; each −p·ln p
    // term quantizes to 1e-15 fixed point so the per-user SUM is an
    // exact integer in both engines (a raw double sum varies with
    // partial-aggregation order) — the text_perplexity trick applied to
    // entropy. Terms per user are bounded by the type-alphabet size.
    Q(
      "agg_entropy",
      (s, dir) => {
        val c = Tables.events(s, dir)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        val n = c.groupBy("user_id")
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
        val p = col("c").cast("double") / col("n").cast("double")
        c.join(n, "user_id")
          .withColumn("tq",
            round(-p * log(p) * 1e15, 0).cast("long"))
          .groupBy("user_id")
          .agg(max(col("n")).as("n_events"), max(col("n_types")).as("n_types"),
            round(sum(col("tq")).cast("double") / 1e15, 4).as("entropy"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH c AS (
          SELECT user_id, event_type, count(*) AS c
          FROM events GROUP BY 1, 2),
        n AS (
          SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                 count(*) AS n_types
          FROM c GROUP BY 1),
        t AS (
          SELECT c.user_id, n.n, n.n_types,
                 CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
                   ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e15, 0)
                   AS BIGINT) AS tq
          FROM c JOIN n ON c.user_id = n.user_id)
        SELECT user_id, max(n) AS n_events, max(n_types) AS n_types,
               round(CAST(sum(tq) AS DOUBLE) / 1e15, 4) AS entropy
        FROM t GROUP BY user_id ORDER BY user_id""")),

    // Gini coefficient of order value per priority class — the
    // inequality summary (0 = uniform spend, →1 = one order dominates).
    // G = 2·Σ rank·x / (n·Σx) − (n+1)/n over ascending-ranked exact
    // decimal money; both Σ are exact (rank·x stays inside decimal(38,2)
    // to ~10^25 rows), so the one double formula is engine-identical.
    // One window + one group-by, both on the priority key.
    Q(
      "agg_gini",
      (s, dir) => {
        val price = col("o_totalprice").cast("decimal(12,2)")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderpriority")
          .orderBy(col("x").asc, col("o_orderkey").asc)
        val ranked = Tables.orders(s, dir)
          .select(col("o_orderpriority"), col("o_orderkey"),
            price.as("x"))
          .withColumn("i", row_number().over(w))
        val g = ranked.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("i") * col("x")).as("sixi"))
        g.select(col("o_orderpriority"), col("n"),
            round(lit(2.0) * col("sixi").cast("double") /
              (col("n").cast("double") * col("sx").cast("double")) -
              (col("n").cast("double") + 1.0) / col("n").cast("double"), 4)
              .as("gini"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        WITH r AS (
          SELECT o_orderpriority,
                 CAST(o_totalprice AS DECIMAL(12,2)) AS x,
                 row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) ASC,
                            o_orderkey ASC) AS i
          FROM orders),
        g AS (
          SELECT o_orderpriority, count(*) AS n,
                 sum(x) AS sx, sum(i * x) AS sixi
          FROM r GROUP BY 1)
        SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
               round(2.0 * CAST(sixi AS DOUBLE) /
                 (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) -
                 (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 4) AS gini
        FROM g ORDER BY o_orderpriority""")),

    // Wilson 95% score interval on a per-group proportion (share of
    // high-value orders) — the rate-with-uncertainty summary dashboards
    // should show instead of a bare ratio. Inputs are two exact integer
    // counts; the interval is one shared-structure double formula
    // (z = 1.96 folded in as literal constants), so bounds match
    // bit-for-bit across engines.
    Q(
      "agg_wilson",
      (s, dir) => {
        val m = Tables.orders(s, dir)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            count(when(col("o_totalprice") > 150000.0, lit(1))).as("k"))
        val nd = col("n").cast("double")
        val ph = col("k").cast("double") / nd
        val den = lit(1.0) + lit(3.8416) / nd
        val ctr = ph + lit(1.9208) / nd
        val half = lit(1.96) *
          sqrt((ph * (lit(1.0) - ph) + lit(0.9604) / nd) / nd)
        m.select(col("o_orderpriority"), col("n"), col("k"),
            round(ph, 4).as("p_hat"),
            round((ctr - half) / den, 4).as("wilson_lo"),
            round((ctr + half) / den, 4).as("wilson_hi"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        WITH m AS (
          SELECT o_orderpriority, count(*) AS n,
                 count(*) FILTER (WHERE o_totalprice > 150000.0) AS k
          FROM orders GROUP BY 1)
        SELECT o_orderpriority, n, k,
               round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 4) AS p_hat,
               round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) +
                       1.9208 / CAST(n AS DOUBLE)) -
                      1.96 * sqrt(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) *
                        (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) +
                        0.9604 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))) /
                     (1.0 + 3.8416 / CAST(n AS DOUBLE)), 4) AS wilson_lo,
               round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) +
                       1.9208 / CAST(n AS DOUBLE)) +
                      1.96 * sqrt(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) *
                        (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) +
                        0.9604 / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))) /
                     (1.0 + 3.8416 / CAST(n AS DOUBLE)), 4) AS wilson_hi
        FROM m ORDER BY o_orderpriority""")),

    // Boolean aggregate surface: bool_and / bool_or / count_if — the
    // assertion-style aggregates data-quality checks are written in
    // ("EVERY order cleared X", "ANY order exceeded Y"). Pure predicate
    // logic, no float anywhere.
    Q(
      "agg_boolean",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy("o_orderpriority")
          .agg(
            bool_and(col("o_totalprice") > 900.0).as("all_above_900"),
            bool_or(col("o_totalprice") > 500000.0).as("any_above_500k"),
            count_if(col("o_orderstatus") === "F").as("n_finished"),
            every(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
              .as("all_after_1995"))
          .orderBy("o_orderpriority"),
      oracle = Some("""
        SELECT o_orderpriority,
               bool_and(o_totalprice > 900.0) AS all_above_900,
               bool_or(o_totalprice > 500000.0) AS any_above_500k,
               CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
               bool_and(o_orderdate >= TIMESTAMP '1995-01-01')
                 AS all_after_1995
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // Weighted quantiles (importance-weighted median/p25/p75 of price,
    // weighted by quantity): cumulative EXACT-decimal weights along a
    // pinned total order, quantile = the first row whose scaled
    // cumulative weight crosses the threshold — `4·cumW ≥ k·W` compares
    // exact decimals, so the crossing row is engine-exact (no float
    // boundary). One window + one group-by, both on the group key;
    // values are selected, never combined.
    Q(
      "agg_percentile_weighted",
      (s, dir) => {
        val qty = col("l_quantity").cast("decimal(12,2)")
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
        val c = Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_extendedprice"),
            col("l_orderkey"), col("l_linenumber"), qty.as("qw"))
          .withColumn("cum", sum(col("qw")).over(wOrd))
          .withColumn("tot", sum(col("qw")).over(wAll))
        def crossing(k: Int) = // first value where 4·cum ≥ k·tot
          min_by(col("l_extendedprice"),
            when(col("cum") * 4 >= col("tot") * k, col("cum")))
        c.groupBy("l_returnflag")
          .agg(crossing(1).as("wp25"), crossing(2).as("wmedian"),
            crossing(3).as("wp75"),
            sum(col("qw")).cast("double").as("total_weight"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        WITH c AS (
          SELECT l_returnflag, l_extendedprice,
                 CAST(l_quantity AS DECIMAL(12,2)) AS qw,
                 sum(CAST(l_quantity AS DECIMAL(12,2))) OVER
                   (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
                 sum(CAST(l_quantity AS DECIMAL(12,2))) OVER
                   (PARTITION BY l_returnflag) AS tot
          FROM lineitem)
        SELECT l_returnflag,
               arg_min(l_extendedprice,
                 CASE WHEN 4 * cum >= 1 * tot THEN cum END) AS wp25,
               arg_min(l_extendedprice,
                 CASE WHEN 4 * cum >= 2 * tot THEN cum END) AS wmedian,
               arg_min(l_extendedprice,
                 CASE WHEN 4 * cum >= 3 * tot THEN cum END) AS wp75,
               CAST(sum(qw) AS DOUBLE) AS total_weight
        FROM c GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // First-order Markov transition matrix of user behavior: within each
    // user's (ts, event_id)-ordered stream, count prev→next event-type
    // pairs (first event transitions from the synthetic '_start' state —
    // a Markov chain without its initial distribution is half a model).
    // One shuffle on user_id for the lag window; the pair census
    // map-combines to ≤ (|types|+1)·|types| cells at any scale. p is one
    // exact-integer division per cell, row-normalized over the prev
    // state.
    // Stationary distribution of the user-journey Markov chain — where
    // the transition matrix (agg_transition_matrix's census, minus the
    // _start row) says traffic settles in the long run: 4 power steps
    // from the uniform start, entirely in integer permyriad (P rows
    // floor-normalized to 1e4; each step is Σ x[a]·P[a][b] summed
    // EXACTLY then floored once — order-free, so both engines replay
    // the identical trajectory; the ml_pca_power fixpoint discipline on
    // a 5×5 chain). The 25-cell matrix folds on the driver (the Lloyd
    // convention); the corpus pass is one lag window + hash aggregate.
    // Honest readout: arrivals are near-uniform, so the stationary
    // vector hugs 2000 pm per type — the chain self-reports no
    // attractor, which is the measurement.
    Q(
      "agg_markov_stationary",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sp0 = s
        import sp0.implicits._
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val pairs = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy("prev_type", "event_type")
          .agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        val types = pairs.keys.flatMap(k => Seq(k._1, k._2))
          .toSeq.distinct.sorted
        val rowSum = types.map(a =>
          a -> types.map(b => pairs.getOrElse((a, b), 0L)).sum).toMap
        // Sink-only states (appear only as a transition TARGET, never a
        // source) have rowSum == 0: give them an all-zero transition row
        // (their mass is absorbed, exactly what the oracle's step CTE
        // does by joining x through p on a) and drop them from the
        // output (the oracle's final inner join on rs does the same).
        val p = types.map(a =>
          if (rowSum(a) == 0L) types.map(_ => 0L)
          else types.map(b =>
            10000L * pairs.getOrElse((a, b), 0L) / rowSum(a)))
        var x = Array.fill(types.size)(10000L / types.size)
        for (_ <- 1 to 4) {
          x = Array.tabulate(types.size)(b =>
            types.indices.map(a => x(a) * p(a)(b)).sum / 10000L)
        }
        types.zipWithIndex
          .filter { case (t, _) => rowSum(t) > 0L }
          .map { case (t, i) => (t, rowSum(t), x(i)) }
          .toDF("event_type", "n_out", "stationary_pm")
          .orderBy("event_type")
      },
      oracle = Some {
        // Each step ranges over the FULL state set ts0 via left joins
        // (coalesce 0 when a state has no incoming transitions), exactly
        // like the Scala power iteration's dense vector — an inner-join
        // chain narrows x's row set to transition TARGETS, so a
        // source-only state (e.g. a type occurring only as a user's
        // first event) would survive the Scala rowSum>0 filter but drop
        // out of the oracle's final join (ADVICE r14 medium). On the
        // fixture every type is both source and target, so values and
        // hashes are unchanged; Round15Spec pins the divergent fixture.
        def step(k: Int) = s"""
        x$k AS (
          SELECT s.t,
                 CAST(coalesce(sum(x.v * p.p), 0) AS BIGINT) // 10000 AS v
          FROM ts0 s
          LEFT JOIN p ON p.b = s.t
          LEFT JOIN x${k - 1} x ON x.t = p.a
          GROUP BY s.t)"""
        s"""
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
          FROM events),
        pairs AS (
          SELECT prev_type AS a, event_type AS b, count(*) AS n
          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        rs AS (SELECT a, CAST(sum(n) AS BIGINT) AS row_n
               FROM pairs GROUP BY a),
        p AS (
          SELECT pairs.a, pairs.b,
                 (10000 * pairs.n) // rs.row_n AS p
          FROM pairs JOIN rs USING (a)),
        ts0 AS (SELECT DISTINCT a AS t FROM pairs
                UNION SELECT DISTINCT b FROM pairs),
        nt AS (SELECT count(*) AS k FROM ts0),
        x0 AS (SELECT t, CAST(10000 // (SELECT k FROM nt) AS BIGINT)
                          AS v FROM ts0),
        ${(1 to 4).map(step).mkString(",")}
        SELECT t AS event_type, rs.row_n AS n_out,
               x4.v AS stationary_pm
        FROM x4 JOIN rs ON rs.a = x4.t
        ORDER BY event_type"""
      }),

    Q(
      "agg_transition_matrix",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val pairs = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("prev_type",
            coalesce(lag("event_type", 1).over(w), lit("_start")))
          .groupBy("prev_type", "event_type")
          .agg(count(lit(1)).as("n"))
        val tot = pairs.groupBy("prev_type")
          .agg(sum("n").as("row_n"))
        pairs.join(broadcast(tot), "prev_type")
          .select(col("prev_type"), col("event_type"), col("n"),
            round(col("n").cast("double") / col("row_n"), 4).as("p"))
          .orderBy("prev_type", "event_type")
      },
      oracle = Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 coalesce(lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id), '_start') AS prev_type
          FROM events),
        pairs AS (
          SELECT prev_type, event_type, count(*) AS n
          FROM seq GROUP BY 1, 2),
        tot AS (
          SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n
          FROM pairs GROUP BY 1)
        SELECT prev_type, event_type, n,
               round(CAST(n AS DOUBLE) / row_n, 4) AS p
        FROM pairs JOIN tot USING (prev_type)
        ORDER BY prev_type, event_type""")),

    // Distribution-free 95% CI for the per-type median — the binomial
    // rank-bound construction (no normality assumption, no bootstrap
    // RNG): lower/upper order statistics at ranks (n ∓ 1.96√n)/2, each
    // SELECTED from the cent histogram by integer crossing. The only
    // doubles are the two rank formulas (one sqrt each, floored/ceiled
    // identically in both engines); every value pick is selection, not
    // arithmetic. Histograms bounded by value range, never row count.
    Q(
      "agg_median_ci",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val h = Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
        val cum = Window.partitionBy("event_type").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val t = h
          .withColumn("cumc", sum("c").over(cum))
          .withColumn("n",
            sum("c").over(Window.partitionBy("event_type")))
          .withColumn("rlo",
            floor((col("n") - lit(1.96) * sqrt(col("n"))) / 2.0)
              .cast("long"))
          .withColumn("rhi",
            ceil((col("n") + lit(1.96) * sqrt(col("n"))) / 2.0 + 1.0)
              .cast("long"))
          .withColumn("rmed", expr("(n + 1) div 2"))
        def pickAt(r: org.apache.spark.sql.Column, name: String) =
          (min(when(col("cumc") >= r, col("cents"))) / 100.0).as(name)
        t.groupBy("event_type")
          .agg(max("n").as("n"),
            round(pickAt(col("rmed"), "m"), 2).as("median"),
            round(pickAt(col("rlo"), "lo"), 2).as("ci_lo"),
            round(pickAt(col("rhi"), "hi"), 2).as("ci_hi"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH h AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS cents,
                 count(*) AS c
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        t AS (
          SELECT event_type, cents,
                 sum(c) OVER (PARTITION BY event_type ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cumc,
                 sum(c) OVER (PARTITION BY event_type) AS n
          FROM h),
        r AS (
          SELECT *,
                 CAST(floor((n - 1.96 * sqrt(n)) / 2.0) AS BIGINT)
                   AS rlo,
                 CAST(ceil((n + 1.96 * sqrt(n)) / 2.0 + 1.0) AS BIGINT)
                   AS rhi,
                 (n + 1) // 2 AS rmed
          FROM t)
        SELECT event_type, CAST(max(n) AS BIGINT) AS n,
               round(min(CASE WHEN cumc >= rmed THEN cents END)
                 / 100.0, 2) AS median,
               round(min(CASE WHEN cumc >= rlo THEN cents END)
                 / 100.0, 2) AS ci_lo,
               round(min(CASE WHEN cumc >= rhi THEN cents END)
                 / 100.0, 2) AS ci_hi
        FROM r GROUP BY event_type ORDER BY event_type""")),

    // Brown–Forsythe Levene test — variance homogeneity across the five
    // event types, the PRECONDITION check for agg_anova's pooled-variance
    // assumption: W = the one-way-F of the |v − group median| deviations
    // (the median-centered Brown–Forsythe form, robust where the
    // mean-centered original is not). Exactness: values quantized to
    // integer millis; group medians are selections whose only non-integer
    // case is a half (even group), so deviations are computed as
    // |2v − 2·med| — exact integers, no rounding anywhere before the two
    // final shared-structure doubles (same recipe as agg_anova on the
    // transformed values). Also reports the max/min group-variance ratio
    // — the quantity Levene actually guards. Scale shape: one shuffle for
    // the per-type medians (k-bounded frame broadcast back; at 100 TB
    // swap the exact median for the agg_mad histogram-median discipline),
    // one for the k-row moment table.
    Q(
      "agg_levene",
      (s, dir) => {
        val dec = "decimal(38,0)"
        val base = Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 1000).cast("long").as("vq"))
        val med = base.groupBy("event_type")
          .agg(expr("percentile(vq, 0.5D)").as("med"))
        val z = base.join(broadcast(med), "event_type")
          .select(col("event_type"),
            abs(col("vq") * 2 - (col("med") * 2).cast("long")).as("z"),
            col("vq"))
        val g = z.groupBy("event_type")
          .agg(count(lit(1)).as("ng"),
            sum(col("z").cast(dec)).as("s1"),
            sum(col("z").cast(dec) * col("z")).as("s2"),
            sum(col("vq").cast(dec)).as("v1"),
            sum(col("vq").cast(dec) * col("vq")).as("v2"))
          .withColumn("qb",
            round((col("s1") * col("s1")).cast("double") / col("ng"))
              .cast("long"))
          .withColumn("gvar",
            (col("ng") * col("v2") - col("v1") * col("v1")).cast("double")
              / (col("ng").cast("double") * (col("ng") - 1)))
        g.agg(count(lit(1)).as("k"), sum("ng").as("n"),
            sum(col("s1")).as("ts1"), sum(col("s2")).as("ts2"),
            sum("qb").as("sqb"),
            max("gvar").as("vmax"), min("gvar").as("vmin"))
          .select(col("k"), col("n"),
            (col("k") - 1).as("df_between"),
            (col("n") - col("k")).as("df_within"),
            round(((col("sqb") -
              round((col("ts1") * col("ts1")).cast("double") / col("n"))
                .cast("long")).cast("double") / (col("k") - 1)) /
              ((col("ts2").cast("double") - col("sqb").cast("double")) /
                (col("n") - col("k"))), 4).as("w_stat"),
            round(col("vmax") / col("vmin"), 4).as("var_ratio"))
      },
      oracle = Some("""
        WITH base AS (
          SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS vq
          FROM events WHERE value IS NOT NULL),
        med AS (
          SELECT event_type, median(vq) AS med FROM base GROUP BY 1),
        z AS (
          SELECT base.event_type,
                 abs(base.vq * 2 - CAST(med.med * 2 AS BIGINT)) AS z,
                 base.vq
          FROM base JOIN med ON base.event_type = med.event_type),
        g AS (
          SELECT event_type, count(*) AS ng,
                 sum(z::HUGEINT) AS s1, sum(z::HUGEINT * z) AS s2,
                 sum(vq::HUGEINT) AS v1, sum(vq::HUGEINT * vq) AS v2
          FROM z GROUP BY 1),
        q AS (
          SELECT ng, s2,
                 CAST(round(CAST(s1 * s1 AS DOUBLE) / ng) AS BIGINT) AS qb,
                 s1,
                 CAST(ng * v2 - v1 * v1 AS DOUBLE)
                   / (CAST(ng AS DOUBLE) * (ng - 1)) AS gvar
          FROM g),
        t AS (
          SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                 sum(s1) AS ts1, sum(s2) AS ts2,
                 CAST(sum(qb) AS BIGINT) AS sqb,
                 max(gvar) AS vmax, min(gvar) AS vmin
          FROM q)
        SELECT k, n, k - 1 AS df_between, n - k AS df_within,
               round((CAST(sqb - CAST(round(CAST(ts1 * ts1 AS DOUBLE)
                        / n) AS BIGINT) AS DOUBLE) / (k - 1))
                 / ((CAST(ts2 AS DOUBLE) - CAST(sqb AS DOUBLE))
                    / (n - k)), 4) AS w_stat,
               round(vmax / vmin, 4) AS var_ratio
        FROM t""")),

    // One-way ANOVA across the five event types — the k-group
    // completion of the two-sample shelf (welch_ttest, mannwhitney,
    // ks_test): F = MS_between / MS_within plus η² effect size. Exact
    // discipline: per-group moments are exact integers; each group's
    // s1²/n term is ONE double division quantized to integer milli²
    // units, so the cross-group sums are order-free; F and η² are two
    // final shared-structure doubles. The corpus's five types share
    // one exponential distribution — F ≈ 1, η² ≈ 0 is the honest null
    // readout; the spec plants separated groups for the other side.
    Q(
      "agg_anova",
      (s, dir) => {
        val dec = "decimal(38,0)"
        val g = Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 1000).cast("long").as("vq"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("ng"),
            sum(col("vq").cast(dec)).as("s1"),
            sum(col("vq").cast(dec) * col("vq")).as("s2"))
          .withColumn("qb",
            round((col("s1") * col("s1")).cast("double") / col("ng"))
              .cast("long"))
        g.agg(count(lit(1)).as("k"), sum("ng").as("n"),
            sum(col("s1")).as("ts1"), sum(col("s2")).as("ts2"),
            sum("qb").as("sqb"))
          .withColumn("grand",
            round((col("ts1") * col("ts1")).cast("double") / col("n"))
              .cast("long"))
          .select(col("k"), col("n"),
            (col("k") - 1).as("df_between"),
            (col("n") - col("k")).as("df_within"),
            round(((col("sqb") - col("grand")).cast("double") /
              (col("k") - 1)) /
              ((col("ts2").cast("double") - col("sqb")) /
                (col("n") - col("k"))), 4).as("f_stat"),
            round((col("sqb") - col("grand")).cast("double") /
              (col("ts2").cast("double") - col("grand")), 4)
              .as("eta_sq"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT event_type, count(*) AS ng,
                 sum(CAST(round(value * 1000) AS BIGINT)::HUGEINT)
                   AS s1,
                 sum(CAST(round(value * 1000) AS BIGINT)::HUGEINT
                     * CAST(round(value * 1000) AS BIGINT)) AS s2
          FROM events WHERE value IS NOT NULL GROUP BY 1),
        q AS (
          SELECT ng, s2,
                 CAST(round(CAST(s1 * s1 AS DOUBLE) / ng) AS BIGINT)
                   AS qb,
                 s1
          FROM g),
        t AS (
          SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                 sum(s1) AS ts1, sum(s2) AS ts2,
                 CAST(sum(qb) AS BIGINT) AS sqb
          FROM q)
        SELECT k, n, k - 1 AS df_between, n - k AS df_within,
               round((CAST(sqb - CAST(round(CAST(ts1 * ts1 AS DOUBLE)
                        / n) AS BIGINT) AS DOUBLE) / (k - 1))
                 / ((CAST(ts2 AS DOUBLE) - CAST(sqb AS DOUBLE))
                    / (n - k)), 4) AS f_stat,
               round(CAST(sqb - CAST(round(CAST(ts1 * ts1 AS DOUBLE)
                        / n) AS BIGINT) AS DOUBLE)
                 / (CAST(ts2 AS DOUBLE)
                    - CAST(round(CAST(ts1 * ts1 AS DOUBLE) / n)
                        AS BIGINT)), 4) AS eta_sq
        FROM t""")),

    // Inter-purchase cadence: the distribution of day-gaps between a
    // customer's consecutive orders — the replenishment-cycle readout
    // behind churn alarms ("3× the median gap without an order") and
    // send-time optimization. Exact percentiles by integer crossing on
    // the GAP histogram (bounded by the calendar span, never the order
    // count); one lag window keyed on the customer.
    Q(
      "agg_order_gap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("day"), col("o_orderkey"))
        val gaps = Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"),
            expr("unix_micros(o_orderdate) div 86400000000").as("day"))
          .withColumn("gap", col("day") - lag("day", 1).over(w))
          .filter(col("gap").isNotNull)
        val h = gaps.groupBy("gap").agg(count(lit(1)).as("cnt"))
          .withColumn("cumc", sum("cnt").over(Window.orderBy("gap")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        def pick(k: Int) =
          min(when(col("cumc") * 100 >= col("n") * k, col("gap")))
            .as(s"p${k}_days")
        h.crossJoin(broadcast(gaps.agg(count(lit(1)).as("n"),
            countDistinct("o_custkey").as("n_repeat_cust"),
            sum("gap").as("sg"))))
          .groupBy("n", "n_repeat_cust", "sg")
          .agg(pick(25), pick(50), pick(75), pick(90))
          .select(col("n").as("n_gaps"), col("n_repeat_cust"),
            round(col("sg").cast("double") / col("n"), 4)
              .as("mean_gap_days"),
            col("p25_days"), col("p50_days"), col("p75_days"),
            col("p90_days"))
      },
      oracle = Some("""
        WITH o AS (
          SELECT o_custkey, o_orderkey,
                 epoch_us(CAST(o_orderdate AS TIMESTAMP))
                   // 86400000000 AS day
          FROM orders),
        gaps AS (
          SELECT o_custkey,
                 day - lag(day) OVER (PARTITION BY o_custkey
                   ORDER BY day, o_orderkey) AS gap
          FROM o QUALIFY gap IS NOT NULL),
        h AS (
          SELECT gap, count(*) AS cnt,
                 sum(count(*)) OVER (ORDER BY gap
                   ROWS UNBOUNDED PRECEDING) AS cumc
          FROM gaps GROUP BY gap),
        t AS (
          SELECT count(*) AS n,
                 count(DISTINCT o_custkey) AS n_repeat_cust,
                 CAST(sum(gap) AS BIGINT) AS sg
          FROM gaps)
        SELECT n AS n_gaps, n_repeat_cust,
               round(CAST(sg AS DOUBLE) / n, 4) AS mean_gap_days,
               min(CASE WHEN cumc * 100 >= n * 25 THEN gap END)
                 AS p25_days,
               min(CASE WHEN cumc * 100 >= n * 50 THEN gap END)
                 AS p50_days,
               min(CASE WHEN cumc * 100 >= n * 75 THEN gap END)
                 AS p75_days,
               min(CASE WHEN cumc * 100 >= n * 90 THEN gap END)
                 AS p90_days
        FROM h CROSS JOIN t
        GROUP BY n, n_repeat_cust, sg""")),

    // RFM segmentation — the classic customer-value census: per
    // customer, Recency (days since last order, lower is better),
    // Frequency (order count) and Monetary (exact total cents) quintile
    // scores 1..5 via ntile over a PINNED total order (value, custkey —
    // ntile's tie behavior is undefined without it), then the segment
    // census. Scale: the fact table collapses to the customer dimension
    // first; the three ntile sorts are dimension-sized, not fact-sized
    // (at extreme scale the histogram-crossing threshold recipe
    // replaces them); output ≤ 125 cells.
    Q(
      "agg_rfm",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cust = Tables.orders(s, dir)
          .select(col("o_custkey"),
            expr("unix_micros(o_orderdate) div 86400000000").as("day"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("o_custkey")
          .agg(max("day").as("last_day"), count(lit(1)).as("f"),
            sum("cents").as("m"))
        val scored = cust
          .crossJoin(broadcast(cust.agg(max("last_day").as("d1"))))
          .withColumn("r_days", col("d1") - col("last_day"))
          .withColumn("r_score", ntile(5).over(
            Window.orderBy(col("r_days").desc, col("o_custkey"))))
          .withColumn("f_score", ntile(5).over(
            Window.orderBy(col("f").asc, col("o_custkey"))))
          .withColumn("m_score", ntile(5).over(
            Window.orderBy(col("m").asc, col("o_custkey"))))
        scored.groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_customers"),
            round(sum("m").cast("double") / count(lit(1)) / 100.0, 2)
              .as("avg_monetary"))
          .orderBy("r_score", "f_score", "m_score")
      },
      oracle = Some("""
        WITH cust AS (
          SELECT o_custkey,
                 max(epoch_us(CAST(o_orderdate AS TIMESTAMP))
                     // 86400000000) AS last_day,
                 count(*) AS f,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS m
          FROM orders GROUP BY 1),
        scored AS (
          SELECT o_custkey, m,
                 ntile(5) OVER (ORDER BY
                   (SELECT max(last_day) FROM cust) - last_day DESC,
                   o_custkey) AS r_score,
                 ntile(5) OVER (ORDER BY f ASC, o_custkey) AS f_score,
                 ntile(5) OVER (ORDER BY m ASC, o_custkey) AS m_score
          FROM cust)
        SELECT r_score, f_score, m_score, count(*) AS n_customers,
               round(CAST(sum(m) AS DOUBLE) / count(*) / 100.0, 2)
                 AS avg_monetary
        FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // Pareto concentration: revenue share of the top 1% / top 10% of
    // orders by value — the whale-dependence readout next to agg_gini.
    // Sort-free and exact: the fact frame collapses to a WHOLE-DOLLAR
    // value histogram (cardinality bounded by the price RANGE, not the
    // row count — the scale contract), a reverse-cumulative window
    // finds each threshold bucket by integer crossing, and the top-k
    // take is exact cents above the threshold plus a deterministic
    // partial take at the threshold bucket's exact mean (rational of
    // exact integers; order-choice inside the bucket cannot move it).
    Q(
      "agg_top_share",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val h = Tables.orders(s, dir)
          .select(round(col("o_totalprice") * 100).cast("long")
            .as("cents"))
          .withColumn("dv", expr("cents div 100"))
          .groupBy("dv")
          .agg(count(lit(1)).as("cnt"), sum("cents").as("sc"))
        val rc = Window.orderBy(col("dv").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val prior = Window.orderBy(col("dv").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val t = h
          .withColumn("cum", sum("cnt").over(rc))
          .withColumn("above", coalesce(sum("cnt").over(prior), lit(0L)))
          .withColumn("sabove", coalesce(sum("sc").over(prior), lit(0L)))
        val tot = h.agg(sum("cnt").as("n"), sum("sc").as("total"))
        def share(pct: Int) = {
          // k = ceil(n·pct/100); threshold bucket = first (from the
          // top) where the running count reaches k.
          val k = expr(s"(n * $pct + 99) div 100")
          round((col("sabove") +
            (k - col("above")) * (col("sc").cast("double") / col("cnt")))
            / col("total"), 6)
        }
        val pick = (pct: Int) => t.crossJoin(broadcast(tot))
          .filter(col("cum") * 100 >= col("n") * pct)
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("dv").desc)))
          .filter(col("rk") === 1)
          .select(share(pct).as(s"share_top$pct"))
        tot.select(col("n").as("n_orders"),
            round(col("total") / 1e8, 4).as("total_m_dollars"))
          .crossJoin(broadcast(pick(1)))
          .crossJoin(broadcast(pick(10)))
      },
      oracle = Some("""
        WITH h AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS dv,
                 count(*) AS cnt,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS sc
          FROM orders GROUP BY 1),
        t AS (
          SELECT dv, cnt, sc,
                 CAST(sum(cnt) OVER (ORDER BY dv DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(coalesce(sum(cnt) OVER (ORDER BY dv DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS above,
                 CAST(coalesce(sum(sc) OVER (ORDER BY dv DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS sabove
          FROM h),
        tot AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(sum(sc) AS BIGINT) AS total
          FROM h),
        p1 AS (
          SELECT round((sabove + ((n * 1 + 99) // 100 - above)
                   * (CAST(sc AS DOUBLE) / cnt)) / total, 6)
                   AS share_top1
          FROM (SELECT t.*, n, total,
                       row_number() OVER (ORDER BY dv DESC) AS rk
                FROM t CROSS JOIN tot
                WHERE cum * 100 >= n * 1) WHERE rk = 1),
        p10 AS (
          SELECT round((sabove + ((n * 10 + 99) // 100 - above)
                   * (CAST(sc AS DOUBLE) / cnt)) / total, 6)
                   AS share_top10
          FROM (SELECT t.*, n, total,
                       row_number() OVER (ORDER BY dv DESC) AS rk
                FROM t CROSS JOIN tot
                WHERE cum * 100 >= n * 10) WHERE rk = 1)
        SELECT n AS n_orders, round(total / 1e8, 4) AS total_m_dollars,
               share_top1, share_top10
        FROM tot CROSS JOIN p1 CROSS JOIN p10""")),

    // DAU/WAU stickiness — the engagement ratio product dashboards live
    // on: average daily actives over weekly actives, per epoch-week
    // (epoch_days div 7 — identical arithmetic in both engines; calendar
    // week functions differ in ISO edge rules). Two distinct-counts over
    // the same shuffle key family; the fact table collapses to
    // (day, user) pairs at the first distinct. stickiness = 1/7 means
    // users show up once a week; 1.0 means every active user is active
    // every observed day.
    Q(
      "agg_dau_mau",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            col("user_id"))
        val daily = ev.distinct()
          .groupBy("day").agg(countDistinct("user_id").as("dau"))
          .withColumn("wk", expr("day div 7"))
          .groupBy("wk").agg(count(lit(1)).as("n_days"),
            sum("dau").as("sum_dau"))
        val weekly = ev.withColumn("wk", expr("day div 7"))
          .groupBy("wk").agg(countDistinct("user_id").as("wau"))
        daily.join(weekly, "wk")
          .select(col("wk"), col("n_days"), col("sum_dau"), col("wau"),
            round(col("sum_dau").cast("double") / col("n_days") /
              col("wau"), 4).as("stickiness"))
          .orderBy("wk")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 user_id
          FROM events),
        daily AS (
          SELECT day // 7 AS wk, count(*) AS n_days,
                 CAST(sum(dau) AS BIGINT) AS sum_dau
          FROM (SELECT day, count(DISTINCT user_id) AS dau
                FROM ev GROUP BY 1) GROUP BY 1),
        weekly AS (
          SELECT day // 7 AS wk, count(DISTINCT user_id) AS wau
          FROM ev GROUP BY 1)
        SELECT wk, n_days, sum_dau, wau,
               round(CAST(sum_dau AS DOUBLE) / n_days / wau, 4)
                 AS stickiness
        FROM daily JOIN weekly USING (wk) ORDER BY wk""")),

    // Theil-Sen robust trend of monthly revenue — the median of all
    // pairwise slopes, the estimator a single corrupted month cannot
    // move (OLS reported beside it as the contrast; their gap is the
    // outlier alarm). Exactness: each slope is ONE double division of
    // exact integers (Δcents/Δmonths — identical in both engines), and
    // the median is a SELECTION (row_number over (slope, i, j)), never
    // a sum — so no accumulation order exists at all; lower median at
    // even n keeps the pick deterministic. Scale: the fact table
    // collapses to the month frame at first aggregation; the pair join
    // and its window run over calendar² rows (3160 here), bounded by
    // time span, never data size.
    // A/B-test power planning from OBSERVED moments — the experiment-
    // design readout every metrics platform ships: per event type, the
    // per-arm sample size needed to detect a 5% relative lift at
    // α = 0.05 / power 0.80 (n = 2σ²(z_α/2 + z_β)²/δ², δ = 0.05·μ),
    // plus whether the current corpus could already power such a test.
    // Exactness: μ and σ² come from exact integer milli-moments; the
    // z-constants are shared literals (1.96, 0.8416); the sizing formula
    // is one fixed double tree ceil'd to BIGINT. One map-combined
    // aggregation — the op costs a scan regardless of corpus size.
    Q(
      "ml_ab_power",
      (s, dir) => {
        val dec = "decimal(38,0)"
        val g = Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 1000).cast("long").as("vq"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("vq").cast(dec)).as("s1"),
            sum(col("vq").cast(dec) * col("vq")).as("s2"))
        val d = (c: org.apache.spark.sql.Column) => c.cast("double")
        val mean = d(col("s1")) / d(col("n")) / 1000.0
        val variance = (d(col("n")) * d(col("s2")) -
          d(col("s1")) * d(col("s1"))) /
          (d(col("n")) * (d(col("n")) - 1.0)) / 1000000.0
        val nReq = ceil(lit(2.0) * pow(lit(1.96) + lit(0.8416), 2) *
          variance / pow(lit(0.05) * mean, 2)).cast("long")
        g.select(col("event_type"), col("n"),
            round(mean, 4).as("mean"),
            round(sqrt(variance), 4).as("sd"),
            nReq.as("n_required_per_arm"))
          .withColumn("powered_today",
            col("n") >= col("n_required_per_arm") * 2)
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH g AS (
          SELECT event_type, count(*) AS n,
                 sum(CAST(round(value * 1000) AS BIGINT)::HUGEINT) AS s1,
                 sum(CAST(round(value * 1000) AS BIGINT)::HUGEINT
                     * CAST(round(value * 1000) AS BIGINT)) AS s2
          FROM events WHERE value IS NOT NULL GROUP BY 1),
        f AS (
          SELECT event_type, n,
                 CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0
                   AS mean,
                 (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                   / 1000000.0 AS variance
          FROM g),
        z AS (
          SELECT event_type, n, mean, variance,
                 CAST(ceil(2.0 * pow(1.96 + 0.8416, 2) * variance
                   / pow(0.05 * mean, 2)) AS BIGINT)
                   AS n_required_per_arm
          FROM f)
        SELECT event_type, n, round(mean, 4) AS mean,
               round(sqrt(variance), 4) AS sd, n_required_per_arm,
               n >= n_required_per_arm * 2 AS powered_today
        FROM z ORDER BY event_type""")),

    // CUSUM changepoint on the monthly-revenue series — WHERE did the
    // level shift, completing the trend shelf (theil_sen: how steep;
    // mann_kendall: is it real; THIS: when did it break). The classic
    // offline estimator: argmax_t |Σ_{i≤t}(x_i − x̄)|, with the whole
    // argmax carried in exact integers by scaling the cusum by n
    // (n·cum_t − t·total — no mean division until the final readout);
    // ties break to the earliest month. Output: the changepoint, the
    // scaled |cusum| peak, and the before/after means whose gap is the
    // shift estimate. Calendar-bounded frame (months, never rows);
    // one window pass.
    Q(
      "agg_changepoint_cusum",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val dec = "decimal(38,0)"
        val m = Tables.orders(s, dir)
          .select(((year(col("o_orderdate")) - 1995) * 12 +
            month(col("o_orderdate")) - 1).cast("long").as("idx"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("idx").agg(sum("cents").as("rev"))
        val wCum = Window.orderBy("idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wPos = Window.orderBy("idx")
        val tot = m.agg(count(lit(1)).as("n"),
          sum(col("rev").cast(dec)).as("total"))
        val cum = m.crossJoin(broadcast(tot))
          .withColumn("t", row_number().over(wPos).cast("long"))
          .withColumn("cum", sum(col("rev").cast(dec)).over(wCum))
          .withColumn("dev",
            abs(col("n") * col("cum") - col("t") * col("total")))
          // the last point's cusum is 0 by construction — exclude it so
          // a flat series reports its own degenerate peak honestly
          .filter(col("t") < col("n"))
        val peak = cum
          .orderBy(col("dev").desc, col("idx")).limit(1)
          .select(col("idx").as("cp_month"), col("t").as("cp_t"),
            col("dev").as("peak_scaled"), col("n"), col("total"),
            col("cum"))
        peak.select(col("cp_month"),
            col("peak_scaled").cast("long").as("peak_scaled"),
            round(col("cum").cast("double") /
              (col("cp_t") * 100).cast("double"), 4).as("mean_before"),
            round((col("total") - col("cum")).cast("double") /
              ((col("n") - col("cp_t")) * 100).cast("double"), 4)
              .as("mean_after"))
          .withColumn("shift", round(col("mean_after") -
            col("mean_before"), 4))
      },
      oracle = Some("""
        WITH m AS (
          SELECT (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
                   + month(o_orderdate) - 1 AS idx,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS rev
          FROM orders GROUP BY 1),
        tot AS (
          SELECT count(*) AS n, sum(rev::HUGEINT) AS total FROM m),
        cum AS (
          SELECT idx,
                 row_number() OVER (ORDER BY idx) AS t,
                 sum(rev::HUGEINT) OVER (ORDER BY idx
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 n, total
          FROM m, tot),
        dev AS (
          SELECT *, abs(n * cum - t * total) AS dev
          FROM cum WHERE t < n),
        peak AS (
          SELECT * FROM dev ORDER BY dev DESC, idx LIMIT 1)
        SELECT idx AS cp_month,
               CAST(dev AS BIGINT) AS peak_scaled,
               round(CAST(cum AS DOUBLE) / CAST(t * 100 AS DOUBLE), 4)
                 AS mean_before,
               round(CAST(total - cum AS DOUBLE)
                 / CAST((n - t) * 100 AS DOUBLE), 4) AS mean_after,
               round(round(CAST(total - cum AS DOUBLE)
                     / CAST((n - t) * 100 AS DOUBLE), 4)
                 - round(CAST(cum AS DOUBLE) / CAST(t * 100 AS DOUBLE),
                     4), 4) AS shift
        FROM peak""")),

    // Winsorized mean per event type — the robust-average companion to
    // agg_outliers (which FLAGS tails; this CLAMPS them at the
    // quartiles and reports how far the robust mean moves — the
    // standard treatment for metric pipelines living with heavy tails).
    // Exactness: values in integer millis; quartiles are chosen at
    // p25/p75 PRECISELY because 0.25·(n−1) has a binary-exact
    // fractional part ∈ {0, ¼, ½, ¾} — every interpolation is exact
    // double arithmetic on integers regardless of either engine's
    // expression tree (a p10 bound would NOT replay: 0.1 is inexact and
    // the two engines associate the interpolation differently). The
    // clamped values live in exact quarter-milli integers (×4), so both
    // means are integer sums with one final division each. Scale: a
    // k-row quartile table broadcast back over one corpus pass (at
    // 100 TB swap the exact percentile for the histogram-median
    // discipline of agg_mad).
    Q(
      "agg_winsorized_mean",
      (s, dir) => {
        val dec = "decimal(38,0)"
        val base = Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 1000).cast("long").as("vq"))
        val qs = base.groupBy("event_type")
          .agg(expr("percentile(vq, 0.25D)").as("q1"),
            expr("percentile(vq, 0.75D)").as("q3"))
          .select(col("event_type"),
            (col("q1") * 4).cast("long").as("lo4"),
            (col("q3") * 4).cast("long").as("hi4"))
        base.join(broadcast(qs), "event_type")
          .select(col("event_type"), (col("vq") * 4).as("v4"),
            col("lo4"), col("hi4"))
          .withColumn("w4", greatest(least(col("v4"), col("hi4")),
            col("lo4")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("v4") < col("lo4"), 1L).otherwise(0L))
              .as("n_clamped_lo"),
            sum(when(col("v4") > col("hi4"), 1L).otherwise(0L))
              .as("n_clamped_hi"),
            round(sum(col("v4").cast(dec)).cast("double") /
              (count(lit(1)) * 4000).cast("double"), 4).as("mean_raw"),
            round(sum(col("w4").cast(dec)).cast("double") /
              (count(lit(1)) * 4000).cast("double"), 4)
              .as("mean_winsor"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH base AS (
          SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS vq
          FROM events WHERE value IS NOT NULL),
        qs AS (
          SELECT event_type,
                 CAST(quantile_cont(vq, 0.25) * 4 AS BIGINT) AS lo4,
                 CAST(quantile_cont(vq, 0.75) * 4 AS BIGINT) AS hi4
          FROM base GROUP BY 1),
        w AS (
          SELECT base.event_type, base.vq * 4 AS v4, qs.lo4, qs.hi4,
                 greatest(least(base.vq * 4, qs.hi4), qs.lo4) AS w4
          FROM base JOIN qs ON base.event_type = qs.event_type)
        SELECT event_type, count(*) AS n,
               CAST(count(*) FILTER (WHERE v4 < lo4) AS BIGINT)
                 AS n_clamped_lo,
               CAST(count(*) FILTER (WHERE v4 > hi4) AS BIGINT)
                 AS n_clamped_hi,
               round(CAST(sum(v4::HUGEINT) AS DOUBLE)
                 / CAST(count(*) * 4000 AS DOUBLE), 4) AS mean_raw,
               round(CAST(sum(w4::HUGEINT) AS DOUBLE)
                 / CAST(count(*) * 4000 AS DOUBLE), 4) AS mean_winsor
        FROM w GROUP BY event_type ORDER BY event_type""")),

    // Mann–Kendall trend test on the same monthly-revenue series as
    // agg_theil_sen — the SIGNIFICANCE half of that pair (Sen answers
    // "how steep", MK answers "is there a trend at all"): S = Σ sign
    // over ordered pairs, tie-corrected variance, normal-approximation
    // Z with the ±1 continuity correction. Everything before the final
    // Z is exact integers (S from sign counts; 18·Var as
    // n(n−1)(2n+5) − Σt(t−1)(2t+5) over tie groups); Z is one sqrt +
    // one division, and the trend call reads the UNrounded Z. The pair
    // join is calendar-bounded (months², never row count) — the same
    // scale argument as theil_sen.
    Q(
      "agg_mann_kendall",
      (s, dir) => {
        val m = Tables.orders(s, dir)
          .select(((year(col("o_orderdate")) - 1995) * 12 +
            month(col("o_orderdate")) - 1).cast("long").as("idx"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("idx").agg(sum("cents").as("rev"))
        val a = m.select(col("idx").as("i"), col("rev").as("ri"))
        val b = m.select(col("idx").as("j"), col("rev").as("rj"))
        val sRow = a.join(b, col("i") < col("j"))
          .agg(sum(signum(col("rj") - col("ri")).cast("long"))
            .as("s_stat"), count(lit(1)).as("n_pairs"))
        val nRow = m.agg(count(lit(1)).as("n"))
        val tie = m.groupBy("rev").agg(count(lit(1)).as("t"))
          .agg(coalesce(sum(col("t") * (col("t") - 1) *
            (col("t") * 2 + 5)), lit(0L)).as("tc"))
        sRow.crossJoin(nRow).crossJoin(tie)
          .withColumn("var18",
            col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tc"))
          .withColumn("z",
            when(col("s_stat") === 0, lit(0.0))
              .otherwise((col("s_stat").cast("double") -
                signum(col("s_stat").cast("double"))) /
                sqrt(col("var18").cast("double") / 18.0)))
          .select(col("n").as("n_months"), col("n_pairs"), col("s_stat"),
            col("var18"), round(col("z"), 4).as("z"),
            when(col("z") > 1.96, "increasing")
              .when(col("z") < -1.96, "decreasing")
              .otherwise("no_trend").as("trend"))
      },
      oracle = Some("""
        WITH m AS (
          SELECT (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
                   + month(o_orderdate) - 1 AS idx,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS rev
          FROM orders GROUP BY 1),
        sp AS (
          SELECT CAST(sum(CAST(sign(b.rev - a.rev) AS BIGINT)) AS BIGINT)
                   AS s_stat,
                 count(*) AS n_pairs
          FROM m a JOIN m b ON a.idx < b.idx),
        nn AS (SELECT count(*) AS n FROM m),
        tie AS (
          SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
            AS BIGINT) AS tc
          FROM (SELECT count(*) AS t FROM m GROUP BY rev)),
        f AS (
          SELECT n, n_pairs, s_stat,
                 n * (n - 1) * (2 * n + 5) - tc AS var18
          FROM sp, nn, tie),
        z AS (
          SELECT *, CASE WHEN s_stat = 0 THEN 0.0
                    ELSE (CAST(s_stat AS DOUBLE)
                          - sign(CAST(s_stat AS DOUBLE)))
                         / sqrt(CAST(var18 AS DOUBLE) / 18.0) END AS zv
          FROM f)
        SELECT n AS n_months, n_pairs, s_stat, var18,
               round(zv, 4) AS z,
               CASE WHEN zv > 1.96 THEN 'increasing'
                    WHEN zv < -1.96 THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM z""")),

    Q(
      "agg_theil_sen",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val dec = "decimal(38,0)"
        val m = Tables.orders(s, dir)
          .select(((year(col("o_orderdate")) - 1995) * 12 +
            month(col("o_orderdate")) - 1).cast("long").as("idx"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("idx").agg(sum("cents").as("rev"))
        val a = m.select(col("idx").as("i"), col("rev").as("ri"))
        val b = m.select(col("idx").as("j"), col("rev").as("rj"))
        val pairs = a.join(b, col("i") < col("j"))
          .select(col("i"), col("j"),
            ((col("rj") - col("ri")).cast("double") /
              (col("j") - col("i")).cast("double")).as("slope"))
        val byS = Window.orderBy(col("slope"), col("i"), col("j"))
        val sen = pairs
          .crossJoin(broadcast(pairs.agg(count(lit(1)).as("np"))))
          .withColumn("rk", row_number().over(byS))
          .filter(col("rk") === expr("(np + 1) div 2"))
          .select(col("np").as("n_pairs"), col("slope").as("sen_cents"))
        val ols = m.agg(
          count(lit(1)).as("n_months"),
          sum(col("idx").cast(dec)).as("sx"),
          sum(col("rev").cast(dec)).as("sy"),
          sum(col("idx").cast(dec) * col("rev")).as("sxy"),
          sum(col("idx").cast(dec) * col("idx")).as("sxx"))
        ols.crossJoin(sen)
          .select(col("n_months"), col("n_pairs"),
            round(col("sen_cents") / 100.0, 4).as("sen_slope"),
            round((col("n_months") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (col("n_months") * col("sxx") - col("sx") * col("sx"))
                .cast("double") / 100.0, 4).as("ols_slope"))
      },
      oracle = Some("""
        WITH m AS (
          SELECT (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
                   + month(o_orderdate) - 1 AS idx,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS rev
          FROM orders GROUP BY 1),
        p AS (
          SELECT a.idx AS i, b.idx AS j,
                 CAST(b.rev - a.rev AS DOUBLE)
                   / CAST(b.idx - a.idx AS DOUBLE) AS slope
          FROM m a JOIN m b ON a.idx < b.idx),
        sen AS (
          SELECT np AS n_pairs, slope AS sen_cents FROM (
            SELECT slope,
                   row_number() OVER (ORDER BY slope, i, j) AS rk,
                   (SELECT count(*) FROM p) AS np
            FROM p) WHERE rk = (np + 1) // 2),
        ols AS (
          SELECT count(*) AS n_months,
                 sum(idx::HUGEINT) AS sx, sum(rev::HUGEINT) AS sy,
                 sum(idx::HUGEINT * rev) AS sxy,
                 sum(idx::HUGEINT * idx) AS sxx
          FROM m)
        SELECT n_months, n_pairs,
               round(sen_cents / 100.0, 4) AS sen_slope,
               round(CAST(n_months * sxy - sx * sy AS DOUBLE)
                 / CAST(n_months * sxx - sx * sx AS DOUBLE)
                 / 100.0, 4) AS ols_slope
        FROM ols CROSS JOIN sen""")),

    // Kaplan-Meier product-limit survival of SESSION durations (30-min
    // gap sessions, duration in whole minutes; censored = the session's
    // last event inside the final 2 h of the corpus — still open). The
    // classic time-to-event readout with right-censoring done properly:
    // censored sessions leave the risk set without counting as deaths.
    // Exactness: at-risk / death counts are exact integers; each factor
    // ln((n−d)/n) is one double of an exact rational quantized 1e-6
    // (the text_zipf discipline), so the running product is an exact
    // integer cumsum → one exp per row. Scale: two shuffles on user_id
    // (sessionize) + one on duration; the KM windows run over the
    // distinct-duration frame, bounded by the max session length in
    // minutes (≤57 here), never the session count. Total-death edge
    // (n = d) pins survival to 0 from that row on (ln(0) never
    // evaluated).
    Q(
      "agg_kaplan_meier",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        // session-cardinality; feeds the global-max probe AND the life
        // table — unmaterialized, the sessionize window ran twice (r17)
        val sess = Cut(e
          .withColumn("isn",
            when(col("us") - lag("us", 1).over(w) > 1800000000L ||
              lag("us", 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("seq", sum("isn").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "seq")
          .agg(expr("(max(us) - min(us)) div 60000000").as("dur"),
            max("us").as("mx"))).df
        val gmax = sess.agg(max("mx").as("gmx"))
        // duration-cardinality; read by its own n_total rollup and the
        // KM walk (r17)
        val tbl = Cut(sess.crossJoin(broadcast(gmax))
          .select(col("dur"),
            when(col("mx") > col("gmx") - 7200000000L, 1L).otherwise(0L)
              .as("cens"))
          .groupBy("dur")
          .agg(sum(when(col("cens") === 0L, 1L).otherwise(0L)).as("d"),
            sum("cens").as("c"))).df
        val byT = Window.orderBy("dur")
        val run = byT.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val prior = byT.rowsBetween(Window.unboundedPreceding, -1)
        tbl.crossJoin(broadcast(
            tbl.agg(sum(col("d") + col("c")).as("n_total"))))
          .withColumn("n_risk",
            col("n_total") - coalesce(sum(col("d") + col("c")).over(prior),
              lit(0L)))
          .withColumn("lnq",
            when(col("d") === col("n_risk"), 0L)
              .otherwise(round(log((col("n_risk") - col("d"))
                  .cast("double") / col("n_risk").cast("double")) * 1e6)
                .cast("long")))
          .withColumn("dead",
            max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(run))
          .withColumn("cum", sum("lnq").over(run))
          .filter(col("d") > 0)
          .select(col("dur").as("t_min"), col("n_risk"),
            col("d").as("n_deaths"), col("c").as("n_censored"),
            when(col("dead") === 1, 0.0)
              .otherwise(round(exp(col("cum").cast("double") / 1e6), 4))
              .as("survival"))
          .orderBy("t_min")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
          FROM events),
        flagged AS (
          SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER w > 1800000000
                        OR lag(us) OVER w IS NULL
                      THEN 1 ELSE 0 END AS isn
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sess AS (
          SELECT user_id, us,
                 CAST(sum(isn) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
          FROM flagged),
        g AS (
          SELECT user_id, seq,
                 (max(us) - min(us)) // 60000000 AS dur,
                 max(us) AS mx
          FROM sess GROUP BY 1, 2),
        sc AS (
          SELECT dur,
                 CASE WHEN mx > (SELECT max(mx) FROM g) - 7200000000
                      THEN 1 ELSE 0 END AS cens
          FROM g),
        tbl AS (
          SELECT dur,
                 CAST(sum(CASE WHEN cens = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS d,
                 CAST(sum(cens) AS BIGINT) AS c
          FROM sc GROUP BY 1),
        km AS (
          SELECT dur, d, c,
                 (SELECT CAST(sum(d + c) AS BIGINT) FROM tbl)
                   - CAST(coalesce(sum(d + c) OVER
                       (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM tbl),
        lnq AS (
          SELECT dur, d, c, n_risk,
                 CASE WHEN d = n_risk THEN 0
                      ELSE CAST(round(ln(CAST(n_risk - d AS DOUBLE)
                             / CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT)
                 END AS lq,
                 CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dflag
          FROM km)
        SELECT dur AS t_min, n_risk, d AS n_deaths, c AS n_censored,
               CASE WHEN max(dflag) OVER run = 1 THEN 0.0
                    ELSE round(exp(CAST(sum(lq) OVER run AS DOUBLE)
                                   / 1e6), 4)
               END AS survival
        FROM lnq
        WHERE d > 0
        WINDOW run AS (ORDER BY dur ROWS UNBOUNDED PRECEDING)
        ORDER BY t_min"""))
  )
}
