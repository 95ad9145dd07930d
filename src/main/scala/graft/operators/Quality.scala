package graft.operators

import graft.{Cut, Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** §2.Q — data-quality auditing: the validation pass an ingestion service
  * runs before publishing a batch (the reference declares only its identity,
  * reference README.md:1 — "data-ingestion-service" — and batch validation
  * is core to that surface). Row-level expectations, key uniqueness, and
  * referential integrity, each reported as (rule, n_checked, n_violations)
  * so a publish gate is a plain filter over the audit output.
  *
  * Scale notes: `dq_expectations` evaluates ALL row rules in one scan and
  * one one-row aggregate (R rules never cost R passes); uniqueness partial-
  * aggregates per-key counts map-side; the FK orphan check anti-joins
  * against the parent's distinct keys (broadcastable for dimension-sized
  * parents). Every output is an integer count — engine-exact at any
  * parallelism. Thresholds are deliberately tighter than the corpus so the
  * audit has non-trivial findings (an all-zero audit verifies nothing —
  * NOTES.md vacuous-demo lesson).
  */
object Quality extends QueryModule {

  def all: Seq[Q] = Seq(
    // Inclusion-dependency PROFILING (the Metanome-style FK-discovery
    // readout): for each candidate "A ⊆ B" column pair, the distinct
    // count of A, how many of those values exist in B, and the
    // containment in floor permyriad — 10000 means the pair is an FK
    // candidate, anything less prices exactly how broken the reference
    // is. The candidate set mixes true TPC-H keys (lineitem→orders,
    // orders→customer, lineitem→part, customer→nation) with two
    // deliberate non-dependencies (orders→nation by custkey,
    // events.user_id→customer) so the profiler demonstrates
    // discrimination, not tautology. Scale: each side reduces to its
    // DISTINCT key set map-side before the (broadcastable) semi-join;
    // the readout frame is one row per candidate.
    Q(
      "dq_pk_fk_discovery",
      (s, dir) => {
        def probe(name: String, a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame) = {
          val da = a.toDF("k").filter(col("k").isNotNull).distinct()
          val db = b.toDF("k").filter(col("k").isNotNull).distinct()
          da.agg(count(lit(1)).as("n_distinct"))
            .crossJoin(da.join(db, Seq("k"), "left_semi")
              .agg(count(lit(1)).as("n_contained")))
            .select(lit(name).as("candidate"), col("n_distinct"),
              col("n_contained"),
              expr("(10000 * n_contained) div n_distinct")
                .as("containment_pm"))
        }
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        Seq(
          probe("lineitem.l_orderkey->orders.o_orderkey",
            li.select(col("l_orderkey").cast("long")),
            o.select(col("o_orderkey").cast("long"))),
          probe("orders.o_custkey->customer.c_custkey",
            o.select(col("o_custkey").cast("long")),
            c.select(col("c_custkey").cast("long"))),
          probe("lineitem.l_partkey->part.p_partkey",
            li.select(col("l_partkey").cast("long")),
            Tables.part(s, dir).select(col("p_partkey").cast("long"))),
          probe("customer.c_nationkey->nation.n_nationkey",
            c.select(col("c_nationkey").cast("long")),
            Tables.nation(s, dir)
              .select(col("n_nationkey").cast("long"))),
          probe("orders.o_custkey->nation.n_nationkey",
            o.select(col("o_custkey").cast("long")),
            Tables.nation(s, dir)
              .select(col("n_nationkey").cast("long"))),
          probe("events.user_id->customer.c_custkey",
            Tables.events(s, dir).select(col("user_id").cast("long")),
            c.select(col("c_custkey").cast("long"))))
          .reduce(_.unionByName(_))
          .orderBy("candidate")
      },
      oracle = Some("""
        WITH probes AS (
          SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS candidate,
                 (SELECT count(DISTINCT l_orderkey) FROM lineitem)
                   AS n_distinct,
                 (SELECT count(DISTINCT l_orderkey) FROM lineitem
                  WHERE l_orderkey IN (SELECT o_orderkey FROM orders))
                   AS n_contained
          UNION ALL
          SELECT 'orders.o_custkey->customer.c_custkey',
                 (SELECT count(DISTINCT o_custkey) FROM orders),
                 (SELECT count(DISTINCT o_custkey) FROM orders
                  WHERE o_custkey IN (SELECT c_custkey FROM customer))
          UNION ALL
          SELECT 'lineitem.l_partkey->part.p_partkey',
                 (SELECT count(DISTINCT l_partkey) FROM lineitem),
                 (SELECT count(DISTINCT l_partkey) FROM lineitem
                  WHERE l_partkey IN (SELECT p_partkey FROM part))
          UNION ALL
          SELECT 'customer.c_nationkey->nation.n_nationkey',
                 (SELECT count(DISTINCT c_nationkey) FROM customer),
                 (SELECT count(DISTINCT c_nationkey) FROM customer
                  WHERE c_nationkey IN
                    (SELECT n_nationkey FROM nation))
          UNION ALL
          SELECT 'orders.o_custkey->nation.n_nationkey',
                 (SELECT count(DISTINCT o_custkey) FROM orders),
                 (SELECT count(DISTINCT o_custkey) FROM orders
                  WHERE o_custkey IN (SELECT n_nationkey FROM nation))
          UNION ALL
          SELECT 'events.user_id->customer.c_custkey',
                 (SELECT count(DISTINCT user_id) FROM events),
                 (SELECT count(DISTINCT user_id) FROM events
                  WHERE user_id IN (SELECT c_custkey FROM customer)))
        SELECT candidate, CAST(n_distinct AS BIGINT) AS n_distinct,
               CAST(n_contained AS BIGINT) AS n_contained,
               (10000 * CAST(n_contained AS BIGINT))
                 // CAST(n_distinct AS BIGINT) AS containment_pm
        FROM probes ORDER BY candidate""")),

    // Row-level expectations over lineitem, ONE scan for all four rules.
    // Two rules genuinely fail on the corpus (quantity tail, discount
    // tail) and two pass — the audit output is a real distribution probe.
    Q(
      "dq_cross_field",
      (s, dir) => {
        // Conditional / cross-TABLE dependency PROFILING (round 13) —
        // the rule class dq_expectations' single-row checks can't
        // express: each candidate rule is "WHEN the antecedent holds,
        // does the consequent?", and the output is the rule's measured
        // support and violation rate (1 − confidence, the CFD-discovery
        // readout). On THIS corpus the honest verdict is that none of
        // the classic TPC-H dependencies hold (the generator is
        // synthetic — e.g. ship ≥ order violates on ~49% of lines), and
        // that is exactly what a profiling audit is FOR: measure, don't
        // assume. Joined once (order-key hash join), then every rule is
        // a conditional aggregate over the SAME pass — k rules cost one
        // scan (the agg_filtered FILTER-clause discipline).
        val j = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_shipdate"), col("o_orderdate"),
            col("o_orderstatus"), col("l_linestatus"),
            col("l_returnflag"), col("o_orderpriority"))
        val rules: Seq[(String, org.apache.spark.sql.Column,
            org.apache.spark.sql.Column)] = Seq(
          ("ship_after_order", lit(true),
            col("l_shipdate") >= col("o_orderdate")),
          ("finished_order_lines_finished",
            col("o_orderstatus") === "F",
            col("l_linestatus") === "F"),
          ("returned_lines_finished",
            col("l_returnflag") === "R",
            col("l_linestatus") === "F"),
          ("urgent_ships_within_90d",
            col("o_orderpriority") === "1-URGENT",
            col("l_shipdate") <= col("o_orderdate") +
              expr("INTERVAL 90 DAYS")))
        val aggs = rules.flatMap { case (name, ante, cons) =>
          Seq(
            sum(when(ante, 1L).otherwise(0L)).as(s"${name}__n"),
            sum(when(ante && !cons, 1L).otherwise(0L)).as(s"${name}__v"))
        }
        val row = j.agg(aggs.head, aggs.tail: _*)
        val out = rules.map { case (name, _, _) =>
          row.select(lit(name).as("rule"),
            col(s"${name}__n").as("n_checked"),
            col(s"${name}__v").as("n_violations"),
            round(col(s"${name}__v") /
              col(s"${name}__n").cast("double"), 6).as("violation_rate"))
        }.reduce(_ unionByName _)
        out.orderBy("rule")
      },
      oracle = Some("""
        WITH j AS (
          SELECT l_shipdate, o_orderdate, o_orderstatus, l_linestatus,
                 l_returnflag, o_orderpriority
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        m AS (
          SELECT
            count(*) AS all_n,
            CAST(sum(CASE WHEN NOT (l_shipdate >= o_orderdate)
              THEN 1 ELSE 0 END) AS BIGINT) AS sao_v,
            CAST(sum(CASE WHEN o_orderstatus = 'F'
              THEN 1 ELSE 0 END) AS BIGINT) AS fin_n,
            CAST(sum(CASE WHEN o_orderstatus = 'F'
              AND NOT (l_linestatus = 'F')
              THEN 1 ELSE 0 END) AS BIGINT) AS fin_v,
            CAST(sum(CASE WHEN l_returnflag = 'R'
              THEN 1 ELSE 0 END) AS BIGINT) AS ret_n,
            CAST(sum(CASE WHEN l_returnflag = 'R'
              AND NOT (l_linestatus = 'F')
              THEN 1 ELSE 0 END) AS BIGINT) AS ret_v,
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
              THEN 1 ELSE 0 END) AS BIGINT) AS urg_n,
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
              AND NOT (l_shipdate <= o_orderdate + INTERVAL 90 DAY)
              THEN 1 ELSE 0 END) AS BIGINT) AS urg_v
          FROM j)
        SELECT rule, n_checked, n_violations,
               round(n_violations / CAST(n_checked AS DOUBLE), 6)
                 AS violation_rate
        FROM (
          SELECT 'ship_after_order' AS rule, all_n AS n_checked,
                 sao_v AS n_violations FROM m
          UNION ALL
          SELECT 'finished_order_lines_finished', fin_n, fin_v FROM m
          UNION ALL
          SELECT 'returned_lines_finished', ret_n, ret_v FROM m
          UNION ALL
          SELECT 'urgent_ships_within_90d', urg_n, urg_v FROM m)
        ORDER BY rule""")),

    Q(
      "dq_expectations",
      (s, dir) =>
        graft.api.Quality.expectations(
          Tables.lineitem(s, dir),
          Seq(
            "l_discount_max_5pct" -> (col("l_discount") <= lit(0.05)),
            "l_extendedprice_positive" -> (col("l_extendedprice") > lit(0.0)),
            "l_quantity_max_45" -> (col("l_quantity") <= lit(45.0)),
            "l_shipdate_not_null" -> col("l_shipdate").isNotNull))
          .orderBy("rule"),
      oracle = Some("""
        SELECT * FROM (
          SELECT 'l_discount_max_5pct' AS rule,
                 (SELECT count(*) FROM lineitem) AS n_checked,
                 (SELECT count(*) FROM lineitem
                  WHERE NOT coalesce(l_discount <= CAST(0.05 AS DOUBLE),
                                     FALSE)) AS n_violations
          UNION ALL
          SELECT 'l_extendedprice_positive',
                 (SELECT count(*) FROM lineitem),
                 (SELECT count(*) FROM lineitem
                  WHERE NOT coalesce(l_extendedprice > CAST(0 AS DOUBLE),
                                     FALSE))
          UNION ALL
          SELECT 'l_quantity_max_45',
                 (SELECT count(*) FROM lineitem),
                 (SELECT count(*) FROM lineitem
                  WHERE NOT coalesce(l_quantity <= CAST(45 AS DOUBLE), FALSE))
          UNION ALL
          SELECT 'l_shipdate_not_null',
                 (SELECT count(*) FROM lineitem),
                 (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL)
        ) ORDER BY rule""")),

    // Cross-table integrity: PK uniqueness (the corpus genuinely carries
    // duplicate (l_orderkey, l_linenumber) pairs), FK orphans against
    // orders (clean — a passing rule), and a row-level accepted-values +
    // non-negative-balance audit on the dimension side.
    Q(
      "dq_integrity",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val ord = Tables.orders(s, dir)
        val cust = Tables.customer(s, dir)
        graft.api.Quality
          .uniqueness(li, Seq(col("l_orderkey"), col("l_linenumber")),
            "lineitem_pk_unique")
          .unionAll(graft.api.Quality.orphans(
            li, col("l_orderkey"), ord, col("o_orderkey"),
            "lineitem_fk_orders"))
          .unionAll(graft.api.Quality.expectations(ord,
            Seq("orders_status_accepted" ->
              col("o_orderstatus").isin("O", "F", "P"))))
          .unionAll(graft.api.Quality.expectations(cust,
            Seq("customer_acctbal_nonneg" -> (col("c_acctbal") >= lit(0.0)))))
          .orderBy("rule")
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT 'lineitem_pk_unique' AS rule,
                 (SELECT count(*) FROM lineitem) AS n_checked,
                 (SELECT count(*) FROM lineitem) -
                 (SELECT count(*) FROM
                   (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
                   AS n_violations
          UNION ALL
          SELECT 'lineitem_fk_orders',
                 (SELECT count(*) FROM lineitem),
                 (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM orders o
                    WHERE o.o_orderkey = l.l_orderkey))
          UNION ALL
          SELECT 'orders_status_accepted',
                 (SELECT count(*) FROM orders),
                 (SELECT count(*) FROM orders
                  WHERE NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE))
          UNION ALL
          SELECT 'customer_acctbal_nonneg',
                 (SELECT count(*) FROM customer),
                 (SELECT count(*) FROM customer
                  WHERE NOT coalesce(c_acctbal >= CAST(0 AS DOUBLE), FALSE))
        ) ORDER BY rule""")),

    // Snapshot CDC diff between two table versions (the audit that runs
    // after every Layout.publish): v2 is a deterministic mutation of
    // orders (keys %97 deleted, %13 status-updated, %101 re-inserted
    // under new keys). Each side reduces to (key, md5(payload)) map-side
    // — the full outer join shuffles 16-byte digests, never payloads —
    // and md5 is engine-portable, so the oracle replays the exact
    // classification. Payload restricted to int/string columns (float
    // rendering is engine-specific; documented in api.Quality).
    Q(
      "cdc_snapshot_diff",
      (s, dir) => {
        val v1 = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"))
        val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 13 === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
          .unionByName(v1.filter(col("o_orderkey") % 101 === 0)
            .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
              col("o_custkey"), col("o_orderstatus"), col("o_orderpriority")))
        graft.api.Quality.diffSnapshots(v1, v2, col("o_orderkey"),
          Seq(col("o_custkey"), col("o_orderstatus"), col("o_orderpriority")))
          .groupBy("change")
          .agg(count(lit(1)).as("n_keys"), sum("k").as("key_checksum"))
          .orderBy("change")
      },
      oracle = Some("""
        WITH v1 AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
          FROM orders),
        v2 AS (
          SELECT o_orderkey, o_custkey,
                 CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                      ELSE o_orderstatus END AS o_orderstatus,
                 o_orderpriority
          FROM v1 WHERE o_orderkey % 97 <> 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                 o_orderpriority
          FROM v1 WHERE o_orderkey % 101 = 0),
        b AS (SELECT o_orderkey AS k,
                     md5(concat_ws(chr(1), o_custkey, o_orderstatus,
                                   o_orderpriority)) AS db FROM v1),
        a AS (SELECT o_orderkey AS k,
                     md5(concat_ws(chr(1), o_custkey, o_orderstatus,
                                   o_orderpriority)) AS da FROM v2),
        d AS (
          SELECT coalesce(b.k, a.k) AS k,
                 CASE WHEN b.k IS NULL THEN 'inserted'
                      WHEN a.k IS NULL THEN 'deleted'
                      WHEN da <> db THEN 'updated'
                      ELSE 'unchanged' END AS change
          FROM b FULL OUTER JOIN a ON b.k = a.k)
        SELECT change, count(*) AS n_keys,
               CAST(sum(k) AS BIGINT) AS key_checksum
        FROM d GROUP BY change ORDER BY change""")),

    // Benford first-significant-digit census over extended prices — the
    // classic fabricated-data screen (synthetic or truncated numeric
    // columns bend the leading-digit curve long before summary stats
    // move). One map-combined groupBy collapses any row count to a
    // 9-row digit histogram; the total comes from a window over that
    // 9-row frame, so no second scan and no driver round-trip. The
    // expected share log10(1+1/d) is libm on both engines, but every
    // one of the nine values sits ≥3e-5 from a 4-decimal rounding
    // boundary, so a last-ulp libm difference cannot flip the rounded
    // output (same argument as the Wilson/Welch keys).
    Q(
      "dq_benford",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val c = round(col("l_extendedprice") * 100, 0).cast("long")
        val h = Tables.lineitem(s, dir)
          .filter(c > 0)
          .groupBy(substring(c.cast("string"), 1, 1).cast("int")
            .as("digit"))
          .agg(count(lit(1)).as("n_obs"))
        val obs = col("n_obs").cast("double") / col("n_total")
        val exp = log10(lit(1.0) + lit(1.0) / col("digit"))
        h.select(col("digit"), col("n_obs"),
            sum("n_obs").over(Window.partitionBy()).as("n_total"))
          .select(col("digit"), col("n_obs"),
            round(obs, 4).as("obs_share"),
            round(exp, 4).as("benford_share"),
            round(obs - exp, 4).as("dev"))
          .orderBy("digit")
      },
      oracle = Some("""
        WITH c AS (
          SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
          FROM lineitem WHERE round(l_extendedprice * 100) > 0),
        h AS (
          SELECT CAST(left(CAST(c AS VARCHAR), 1) AS INTEGER) AS digit,
                 count(*) AS n_obs
          FROM c GROUP BY 1),
        t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM h)
        SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
               round(CAST(n_obs AS DOUBLE) / n_total, 4) AS obs_share,
               round(log10(1.0 + 1.0 / digit), 4) AS benford_share,
               round(CAST(n_obs AS DOUBLE) / n_total
                     - log10(1.0 + 1.0 / digit), 4) AS dev
        FROM h, t ORDER BY digit""")),

    // TEMPORAL drift locator (round 12) — CUSUM over daily mean values
    // per event type: the reflected walk S_t = max(0, S_{t-1} + m_t − μ0)
    // with threshold 100 value-units (the stationary corpus peaks at 36
    // at sf0.01 / 12 at sf0.1 — measured noise floor, same doctrine as
    // dq_volume_drift's ±5% band). All walk state is integer 1e-6 units,
    // so the alarm day can never flip across engines; the oracle replays
    // the recurrence with a recursive CTE over the per-day rows. The
    // fold runs over calendar-cardinality arrays (30 days), never events.
    Q(
      "dq_drift_cusum",
      (s, dir) =>
        graft.api.Quality.driftCusum(
          Tables.events(s, dir), col("event_type"), col("ts"), col("value"),
          thresholdMicro = 100000000L)
          .orderBy("grp"),
      oracle = Some("""
        WITH RECURSIVE d AS (
          SELECT event_type AS grp,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dy,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sc,
                 count(*) AS n
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        m AS (
          SELECT grp, dy,
                 CAST(round(CAST(sc AS DOUBLE) / n * 1e4) AS BIGINT) AS m,
                 row_number() OVER (PARTITION BY grp ORDER BY dy) AS rn
          FROM d),
        mu AS (
          SELECT grp,
                 CAST(round(CAST(sum(sc) AS DOUBLE) / sum(n) * 1e4)
                   AS BIGINT) AS mu0
          FROM d GROUP BY 1),
        walk(grp, rn, dy, s) AS (
          SELECT m.grp, rn, dy, greatest(0, m - mu0)
          FROM m JOIN mu USING (grp) WHERE rn = 1
          UNION ALL
          SELECT m.grp, m.rn, m.dy, greatest(0, walk.s + m.m - mu.mu0)
          FROM walk
          JOIN m ON m.grp = walk.grp AND m.rn = walk.rn + 1
          JOIN mu ON mu.grp = m.grp),
        agg AS (
          SELECT w.grp, count(*) AS n_days,
                 CAST(max(s) AS BIGINT) AS mx,
                 coalesce(min(dy) FILTER (WHERE s > 100000000),
                   CAST(-1 AS BIGINT)) AS alarm_day
          FROM walk w GROUP BY 1)
        SELECT agg.grp AS grp, n_days,
               round(mu0 / 1e6, 2) AS mu0,
               round(mx / 1e6, 2) AS max_cusum,
               alarm_day, alarm_day >= 0 AS alarmed
        FROM agg JOIN mu ON mu.grp = agg.grp
        ORDER BY agg.grp""")),

    // DISTRIBUTION drift (round 12) — PSI per event type between the
    // first and second half-month of the corpus, fixed 50-wide value
    // buckets, Laplace smoothing, every term 1e-12-fixed-point before
    // the sum so the ≥0.2 "investigate" flag compares integers (see
    // api.Quality.driftPsiFlagged). Complements dq_volume_drift: that
    // one alarms on HOW MUCH arrived, this one on WHAT the values look
    // like. ONE scan with a half-flag column collapsing to a single
    // type×bucket conditional aggregate; empty buckets densify in a
    // per-group fold, never a spine join (r13 verdict task 3: e18→e2).
    Q(
      "dq_drift_psi",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val cut = lit("2024-01-16").cast("timestamp")
        graft.api.Quality.driftPsiFlagged(
          ev, col("event_type"), col("value"), col("ts") < cut,
          bucketWidth = 50.0, nBuckets = 10)
          .orderBy("grp")
      },
      oracle = Some("""
        WITH rs AS (
          SELECT event_type AS grp,
                 CAST(greatest(least(floor(value / 50.0), 9), 0) AS INT) AS b
          FROM events
          WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16'),
        cs AS (
          SELECT event_type AS grp,
                 CAST(greatest(least(floor(value / 50.0), 9), 0) AS INT) AS b
          FROM events
          WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'),
        rc AS (SELECT grp, b, count(*) AS rcn FROM rs GROUP BY 1, 2),
        cc AS (SELECT grp, b, count(*) AS ccn FROM cs GROUP BY 1, 2),
        gs AS (SELECT DISTINCT grp FROM (
                 SELECT grp FROM rc UNION ALL SELECT grp FROM cc)),
        spine AS (SELECT grp, CAST(i AS INT) AS b
                  FROM gs, unnest(generate_series(0, 9)) AS t(i)),
        j AS (
          SELECT s.grp, s.b,
                 CAST(coalesce(rcn, 0) AS BIGINT) AS rcn,
                 CAST(coalesce(ccn, 0) AS BIGINT) AS ccn
          FROM spine s
          LEFT JOIN rc ON rc.grp = s.grp AND rc.b = s.b
          LEFT JOIN cc ON cc.grp = s.grp AND cc.b = s.b),
        tot AS (SELECT grp, CAST(sum(rcn) AS BIGINT) AS rt,
                       CAST(sum(ccn) AS BIGINT) AS ct
                FROM j GROUP BY 1),
        terms AS (
          SELECT j.grp, rt, ct,
                 CAST(round(
                   ((rcn + 1.0) / (rt + 10.0) - (ccn + 1.0) / (ct + 10.0)) *
                   ln(((rcn + 1.0) / (rt + 10.0)) /
                      ((ccn + 1.0) / (ct + 10.0))) * 1e12) AS BIGINT) AS f
          FROM j JOIN tot USING (grp))
        SELECT grp, rt AS n_ref, ct AS n_cur,
               round(CAST(sum(f) AS BIGINT) / 1e12, 4) AS psi,
               CAST(sum(f) AS BIGINT) >= 200000000000 AS drifted
        FROM terms GROUP BY grp, rt, ct ORDER BY grp""")),

    // Volume-drift monitor — the per-partition observability check an
    // ingestion pipeline runs after each day lands: daily event counts
    // vs the trailing-7-day mean, flagged at ±5%. The ratio test is
    // cross-multiplied to integers (20·n·n_prev vs 19·/21·sum_prev), so
    // flags can never flip across engines; the trailing window is a
    // cumulative-style ROWS frame over one tiny per-day aggregate (30
    // rows here; one row per partition-day at any scale — the monitor's
    // cost is independent of corpus size once the daily counts exist).
    // 6 low + 3 high flags fire on the corpus — non-degenerate.
    Q(
      "dq_volume_drift",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("day")
          .rowsBetween(-7, -1)
        Tables.events(s, dir)
          .withColumn("day", expr("unix_micros(ts) div 86400000000"))
          .groupBy("day").agg(count(lit(1)).as("n"))
          .withColumn("sum_prev", coalesce(sum("n").over(w), lit(0L)))
          .withColumn("n_prev", count(lit(1)).over(w))
          .select(col("day"), col("n"), col("n_prev"), col("sum_prev"),
            (col("n_prev") > 0 &&
              col("n") * col("n_prev") * 20 < col("sum_prev") * 19)
              .as("below_band"),
            (col("n_prev") > 0 &&
              col("n") * col("n_prev") * 20 > col("sum_prev") * 21)
              .as("above_band"))
          .orderBy("day")
      },
      oracle = Some("""
        WITH d AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 count(*) AS n
          FROM events GROUP BY 1),
        w AS (
          SELECT day, n,
                 CAST(coalesce(sum(n) OVER (ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS sum_prev,
                 count(n) OVER (ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prev
          FROM d)
        SELECT day, n, n_prev, sum_prev,
               (n_prev > 0 AND n * n_prev * 20 < sum_prev * 19)
                 AS below_band,
               (n_prev > 0 AND n * n_prev * 20 > sum_prev * 21)
                 AS above_band
        FROM w ORDER BY day""")),

    // Incremental rollup maintenance — merge-partial-aggregates, the
    // pattern that keeps a running rollup current without recomputing
    // history: a state aggregate over all but the newest 3 days and a
    // delta aggregate over the newly-landed days (the cutoff is anchored
    // to the data's own horizon, max(day) - 3, so a date-shifted corpus
    // regeneration moves it too) merge by union + re-aggregation, and
    // the merged rollup must equal the full recompute (the oracle runs
    // the full recompute). Sums are exact decimal so merge order cannot
    // perturb a digit; at scale state is a stored table and only the
    // delta scans new data.
    Q(
      "agg_incremental_merge",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("day", expr("unix_micros(ts) div 86400000000"))
          .withColumn("v", col("value").cast("decimal(12,2)"))
        def part(pred: org.apache.spark.sql.Column) =
          ev.filter(pred).groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum("v").as("s"))
        val cutoff = ev.agg(max(col("day"))).head.getLong(0) - 3L
        val state = part(col("day") < cutoff)
        val delta = part(col("day") >= cutoff)
        state.unionByName(delta)
          .groupBy("event_type")
          .agg(sum("n").as("n_events"),
            round(sum("s"), 4).cast("double").as("sum_value"))
          .join(state.select(col("event_type"), col("n").as("n_state")),
            Seq("event_type"), "left")
          .join(delta.select(col("event_type"), col("n").as("n_delta")),
            Seq("event_type"), "left")
          .select(col("event_type"), col("n_events"),
            coalesce(col("n_state"), lit(0L)).as("n_state"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"),
            col("sum_value"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH d AS (
          SELECT event_type, value,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
          FROM events)
        SELECT event_type, count(*) AS n_events,
               CAST(count(*) FILTER (WHERE
                 day < (SELECT max(day) - 3 FROM d))
                 AS BIGINT) AS n_state,
               CAST(count(*) FILTER (WHERE
                 day >= (SELECT max(day) - 3 FROM d))
                 AS BIGINT) AS n_delta,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE)
                 AS sum_value
        FROM d GROUP BY event_type ORDER BY event_type""")),

    // k-anonymity audit on customer quasi-identifiers (nation, market
    // segment, account-balance band) — the re-identification check a
    // person-level training-data release runs before publishing. The
    // 5,000-wide balance band keeps the class structure non-degenerate at
    // sf0.01: 325 classes, of which 49 are singletons and 165 fall below
    // k=5 — every threshold has both passing and failing classes.
    Q(
      "dq_k_anonymity",
      (s, dir) =>
        graft.api.Quality.kAnonymity(
          Tables.customer(s, dir),
          Seq(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 5000).cast("long")),
          ks = Seq(2, 5, 10))
          .orderBy("k"),
      oracle = Some("""
        WITH c AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 5000) AS BIGINT) AS ab,
                 count(*) AS n
          FROM customer GROUP BY 1, 2, 3),
        t AS (SELECT unnest([2, 5, 10]) AS k)
        SELECT CAST(k AS BIGINT) AS k,
               (SELECT count(*) FROM c) AS n_classes,
               CAST(coalesce(sum(CASE WHEN n < k THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS n_classes_below,
               CAST(coalesce(sum(CASE WHEN n < k THEN n ELSE 0 END), 0)
                 AS BIGINT) AS n_rows_at_risk
        FROM t, c
        GROUP BY k ORDER BY k""")),

    // Feed-freshness audit: per event type, last-seen vs the global
    // high-water mark in exact BIGINT microseconds, with a 20-minute
    // staleness flag. The threshold is tuned to the corpus's real
    // arrival noise (lags run 0-33 min at sf0.01), so BOTH flag states
    // occur — 3 stale, 2 fresh — and the audit is non-vacuous. One scan
    // + a broadcast 1-row watermark; nothing here grows with data.
    Q(
      "dq_freshness",
      (s, dir) =>
        graft.api.Quality.freshness(
          Tables.events(s, dir), col("event_type"), col("ts"),
          staleAfterUs = 1200000000L) // 20 min
          .orderBy("grp"),
      oracle = Some("""
        WITH m AS (SELECT max(ts) AS wm FROM events)
        SELECT event_type AS grp, count(*) AS n_events,
               max(ts) AS last_seen,
               CAST(epoch_us((SELECT wm FROM m)) - epoch_us(max(ts))
                 AS BIGINT) AS lag_us,
               epoch_us((SELECT wm FROM m)) - epoch_us(max(ts))
                 >= 1200000000 AS stale
        FROM events GROUP BY event_type ORDER BY grp""")),

    // Sequence-integrity audit: does each user's event stream arrive in
    // order? Per user, events are replayed in event_id (ingest) order and
    // every timestamp REGRESSION (ts strictly before the previous event's
    // ts) is counted, with the worst backstep in exact microseconds. On
    // this corpus ingest order and event time are uncorrelated, so the
    // audit reads heavy regression mass — the readout that tells a
    // pipeline "you cannot use ingest order as event order" (and exactly
    // what watermark margins must absorb). One window pass partitioned by
    // user (state = one lag value), one hash aggregate: linear, no
    // global sort, holds at 100 TB. Top-20 worst users, total order.
    Q(
      "dq_sequential_gaps",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t"))
          .withColumn("pt", lag("t", 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("t") < col("pt"), 1L).otherwise(0L))
              .as("n_regressions"),
            coalesce(max(when(col("t") < col("pt"),
              col("pt") - col("t"))), lit(0L)).as("max_backstep_us"))
          .orderBy(desc("n_regressions"), asc("user_id"))
          .limit(20)
      },
      oracle = Some("""
        WITH o AS (
          SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
                 lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id ORDER BY event_id) AS pt
          FROM events)
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CASE WHEN t < pt THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_regressions,
               CAST(coalesce(max(CASE WHEN t < pt THEN pt - t END), 0)
                 AS BIGINT) AS max_backstep_us
        FROM o GROUP BY user_id
        ORDER BY n_regressions DESC, user_id LIMIT 20""")),

    // Schema-contract validation — the check that runs before any batch
    // is allowed to land: the declared contract vs the table's actual
    // parquet schema. The contract here deliberately disagrees with the
    // corpus twice (props declared JSON but lands VARCHAR; session_id
    // declared but absent), so all three failure classes — type drift,
    // missing column, and the clean pass — appear in one audit. Zero
    // rows scanned: schema-cardinality only, free at any table size.
    Q(
      "dq_schema_contract",
      (s, dir) =>
        graft.api.Quality.schemaContract(
          Tables.events(s, dir),
          Seq("event_id" -> "BIGINT", "ts" -> "TIMESTAMP",
            "user_id" -> "BIGINT", "event_type" -> "VARCHAR",
            "value" -> "DOUBLE", "props" -> "JSON",
            "session_id" -> "VARCHAR"))
          .orderBy("col"),
      oracle = Some("""
        WITH actual AS (
          SELECT column_name AS col, column_type AS actual
          FROM (DESCRIBE SELECT * FROM events)),
        expected AS (
          SELECT * FROM (VALUES
            ('event_id','BIGINT'), ('ts','TIMESTAMP'),
            ('user_id','BIGINT'), ('event_type','VARCHAR'),
            ('value','DOUBLE'), ('props','JSON'),
            ('session_id','VARCHAR')) AS t(col, expected))
        SELECT coalesce(e.col, a.col) AS col,
               coalesce(e.expected, '(undeclared)') AS expected,
               coalesce(a.actual, '(missing)') AS actual,
               coalesce(e.expected = a.actual, FALSE) AS ok
        FROM expected e FULL OUTER JOIN actual a ON e.col = a.col
        ORDER BY col""")),

    // Order-independent table checksum: XOR of every row's portable
    // 60-bit digest, plus a sum-mod-prime and the row count — the
    // attestation two engines (or two replicas, or pre/post-migration
    // copies) exchange to certify a table is identical WITHOUT moving
    // it. XOR and modular sum are commutative/associative, so the
    // checksum is independent of partitioning, ordering, and merge
    // shape at any parallelism; the count + second checksum close XOR's
    // pair-cancellation blind spot (dup row + dropped row can cancel in
    // XOR alone, not in count and mod-sum together). One scan, one
    // 1-row aggregate per group.
    Q(
      "dq_table_checksum",
      (s, dir) => {
        val h = conv(substring(md5(concat_ws("\u0001",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          // doubles digest as exact cents: float-to-text is engine-
          // specific (the diffSnapshots contract)
          round(col("o_totalprice") * 100).cast("long"),
          col("o_orderpriority"))), 1, 15), 16, 10)
          .cast("long")
        Tables.orders(s, dir)
          .withColumn("h", h)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(h)").as("xor_checksum"),
            sum(col("h") % 1000003L).as("modsum_checksum"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        WITH h AS (
          SELECT o_orderpriority,
                 ('0x' || substring(md5(concat_ws(chr(1),
                    o_orderkey, o_custkey, o_orderstatus,
                    CAST(round(o_totalprice * 100) AS BIGINT),
                    o_orderpriority)), 1, 15))::BIGINT AS h
          FROM orders)
        SELECT o_orderpriority, count(*) AS n_rows,
               bit_xor(h) AS xor_checksum,
               CAST(sum(h % 1000003) AS BIGINT) AS modsum_checksum
        FROM h GROUP BY o_orderpriority ORDER BY o_orderpriority"""))
  ,
    // CDC round trip: diff two snapshots, apply the diff back to the old
    // one, and PROVE the reconstruction equals the new snapshot — the
    // audit that certifies a change feed is lossless before anyone
    // replays it downstream. Same synthetic v1/v2 as cdc_snapshot_diff
    // (real deletes, updates, and inserts), patch application joins only
    // change-data-sized key sets against the base, and equality is two
    // digest anti-joins — at 100 TB the patch path touches changed keys,
    // never rewrites the table. Output is a single audit row whose
    // only_in_* columns must be zero.
    Q(
      "cdc_apply_patch",
      (s, dir) => {
        val v1 = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"))
        val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 13 === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
          .unionByName(v1.filter(col("o_orderkey") % 101 === 0)
            .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
              col("o_custkey"), col("o_orderstatus"),
              col("o_orderpriority")))
        val dig = md5(concat_ws("\u0001", col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority")))
        // Digest-once: each snapshot reduces to its (key, md5(payload))
        // frame EXACTLY once and is cut ([[graft.Cut]]) — the diff
        // classification, the patch application, and the equality audit
        // all reuse the same two key-cardinality digest frames. (The
        // previous shape called api.Quality.applyPatch + a separate
        // audit digest pass, which re-hashed each snapshot per leg —
        // priced at 10.2 s under full costing; the patch semantics are
        // identical in digest space because every recon row carries the
        // digest of exactly the payload applyPatch would carry.)
        val v1d = Cut(v1.select(col("o_orderkey").as("k"), dig.as("d"))).df
        val v2d = Cut(v2.select(col("o_orderkey").as("k"), dig.as("d"))).df
        val diff = v1d.select(col("k"), col("d").as("digest_b"))
          .join(v2d.select(col("k"), col("d").as("digest_a")),
            Seq("k"), "full_outer")
          .select(col("k"),
            when(col("digest_b").isNull, "inserted")
              .when(col("digest_a").isNull, "deleted")
              .when(col("digest_a") =!= col("digest_b"), "updated")
              .otherwise("unchanged").as("change"))
        val removeKeys = diff.filter(col("change").isin("deleted", "updated"))
          .select("k")
        val upsertKeys = diff.filter(col("change").isin("inserted", "updated"))
          .select("k")
        // ONE job for the whole audit: tag each side, group by
        // (key, digest), and fold every measure out of the per-(k,d)
        // side counts — four separate count() actions would recompute
        // the diff lineage four times.
        val r = v1d.join(removeKeys, Seq("k"), "left_anti")
          .unionByName(v2d.join(upsertKeys, Seq("k"), "left_semi"))
          .withColumn("is_r", lit(1L))
        val t = v2d.withColumn("is_r", lit(0L))
        r.unionByName(t)
          .groupBy("k", "d")
          .agg(sum(col("is_r")).as("cr"), sum(lit(1L) - col("is_r")).as("ct"))
          .agg(sum("cr").as("n_recon"), sum("ct").as("n_target"),
            sum(greatest(col("cr") - col("ct"), lit(0L)))
              .as("only_in_recon"),
            sum(greatest(col("ct") - col("cr"), lit(0L)))
              .as("only_in_target"))
          .select(col("n_recon"), col("n_target"), col("only_in_recon"),
            col("only_in_target"),
            (col("only_in_recon") === 0L && col("only_in_target") === 0L)
              .as("patch_lossless"))
      },
      oracle = Some("""
        WITH v1 AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
          FROM orders),
        v2 AS (
          SELECT o_orderkey, o_custkey,
                 CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                      ELSE o_orderstatus END AS o_orderstatus,
                 o_orderpriority
          FROM v1 WHERE o_orderkey % 97 <> 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                 o_orderpriority
          FROM v1 WHERE o_orderkey % 101 = 0)
        SELECT (SELECT count(*) FROM v2) AS n_recon,
               (SELECT count(*) FROM v2) AS n_target,
               CAST(0 AS BIGINT) AS only_in_recon,
               CAST(0 AS BIGINT) AS only_in_target,
               TRUE AS patch_lossless"""))
  ) ++ Seq(
    // Dataset.observe — in-flight metrics that RIDE the job's own action
    // instead of costing a second scan: the production observability
    // hook (batch here; the same named-metric surface feeds
    // StreamingQueryListener per micro-batch). The observed aggregates
    // travel with the count() action over events; Observation.get then
    // yields them without any further job. At 100 TB the difference is
    // one pass vs two — audit metrics on a table you were already
    // reading are free. Values are integers (cents / µs), engine-exact.
    Q(
      "dq_observe_metrics",
      (s, dir) => {
        val sp2 = s
        import sp2.implicits._
        val obs = org.apache.spark.sql.Observation("ingest_metrics")
        val ev = Tables.events(s, dir).observe(obs,
          count(lit(1)).as("n_rows"),
          sum(when(col("props").isNull, 1L).otherwise(0L))
            .as("n_null_props"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"),
          min(unix_micros(col("ts"))).as("min_ts_us"),
          max(unix_micros(col("ts"))).as("max_ts_us"))
        // The job's REAL action; metrics piggyback on this single pass.
        ev.count()
        val m = obs.get
        Seq((m("n_rows").asInstanceOf[Long],
          m("n_null_props").asInstanceOf[Long],
          m("sum_cents").asInstanceOf[Long],
          m("min_ts_us").asInstanceOf[Long],
          m("max_ts_us").asInstanceOf[Long]))
          .toDF("n_rows", "n_null_props", "sum_cents", "min_ts_us",
            "max_ts_us")
      },
      oracle = Some("""
        SELECT count(*) AS n_rows,
               CAST(coalesce(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END),
                 0) AS BIGINT) AS n_null_props,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_ts_us,
               max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_ts_us
        FROM events"""))
  ) ++ Seq(
    // Pre-join skew diagnosis: the report you run BEFORE choosing
    // broadcast / salting / AQE-skew on a 100 TB join (join_skew_salted
    // and join_skew_aqe are the treatments; this is the diagnosis). One
    // hash agg builds the per-key counts; every later step runs on the
    // bounded-cardinality group-SIZE histogram (≤ max-group-size rows),
    // so the exact p50/p90/p99 of group sizes never globally sort the
    // key set — the cumulative window scans the size histogram, not the
    // keys. Output is long-format (metric, value), all BIGINT, so the
    // report is engine-exact and trivially unioned across tables.
    // skew_pm floors twice (max/avg via avg_x1000) to stay in 64 bits
    // at any corpus size; both engines truncate identically.
    Q(
      "dq_skew_report",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // The ONLY data-sized pass: one scan + one key shuffle, then the
        // counts table is materialized once — every report branch below
        // reads it, never the raw table again (18 Exchanges → 7, and 6
        // full scans → 1, before this cut; PlanShapeSpec budgets it).
        val cnts = Cut(Tables.events(s, dir)
          .groupBy("user_id").agg(count(lit(1)).as("n"))).df
        val tot = cnts.agg(count(lit(1)).as("k"),
          sum("n").as("r"), max("n").as("mx"))
        val summary = tot.select(explode(array(
            struct(lit("n_keys").as("metric"), col("k").as("value")),
            struct(lit("n_rows").as("metric"), col("r").as("value")),
            struct(lit("max_group").as("metric"), col("mx").as("value")),
            struct(lit("avg_x1000").as("metric"),
              expr("1000 * r div k").as("value")),
            struct(lit("skew_pm").as("metric"),
              expr("1000000 * mx div (1000 * r div k)").as("value"))))
            .as("mv"))
          .select(col("mv.metric").as("metric"), col("mv.value").as("value"))
        // All three rank thresholds resolve in ONE conditional aggregate
        // over the cumulative size histogram — not a branch per quantile.
        val pcts = cnts.groupBy("n").agg(count(lit(1)).as("f"))
          .withColumn("cum", sum("f").over(Window.orderBy("n")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(tot))
          .agg(
            min(when(col("cum") >= expr("(k * 1 + 1) div 2"), col("n")))
              .as("p50_group"),
            min(when(col("cum") >= expr("(k * 9 + 9) div 10"), col("n")))
              .as("p90_group"),
            min(when(col("cum") >= expr("(k * 99 + 99) div 100"), col("n")))
              .as("p99_group"))
          .select(explode(array(
            struct(lit("p50_group").as("metric"), col("p50_group").as("value")),
            struct(lit("p90_group").as("metric"), col("p90_group").as("value")),
            struct(lit("p99_group").as("metric"), col("p99_group").as("value"))))
            .as("mv"))
          .select(col("mv.metric").as("metric"), col("mv.value").as("value"))
        val top = cnts.orderBy(desc("n"), asc("user_id")).limit(3)
          .withColumn("rk",
            row_number().over(Window.orderBy(desc("n"), asc("user_id"))))
          .select(explode(array(
            struct(concat(lit("top"), col("rk").cast("string"), lit("_key"))
              .as("metric"), col("user_id").as("value")),
            struct(concat(lit("top"), col("rk").cast("string"), lit("_n"))
              .as("metric"), col("n").as("value")))).as("mv"))
          .select(col("mv.metric").as("metric"), col("mv.value").as("value"))
        summary.unionAll(pcts).unionAll(top).orderBy("metric")
      },
      oracle = Some("""
        WITH cnts AS (
          SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        tot AS (
          SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS r, max(n) AS mx
          FROM cnts),
        cum AS (
          SELECT n, sum(f) OVER (ORDER BY n) AS cum
          FROM (SELECT n, count(*) AS f FROM cnts GROUP BY 1)),
        top AS (
          SELECT user_id, n,
                 row_number() OVER (ORDER BY n DESC, user_id) AS rk
          FROM cnts ORDER BY n DESC, user_id LIMIT 3)
        SELECT metric, value FROM (
          SELECT 'n_keys' AS metric, CAST(k AS BIGINT) AS value FROM tot
          UNION ALL SELECT 'n_rows', r FROM tot
          UNION ALL SELECT 'max_group', CAST(mx AS BIGINT) FROM tot
          UNION ALL SELECT 'avg_x1000', 1000 * r // k FROM tot
          UNION ALL SELECT 'skew_pm', 1000000 * mx // (1000 * r // k)
            FROM tot
          UNION ALL SELECT 'p50_group',
            (SELECT CAST(min(n) AS BIGINT) FROM cum, tot
             WHERE cum >= (k * 1 + 1) // 2)
          UNION ALL SELECT 'p90_group',
            (SELECT CAST(min(n) AS BIGINT) FROM cum, tot
             WHERE cum >= (k * 9 + 9) // 10)
          UNION ALL SELECT 'p99_group',
            (SELECT CAST(min(n) AS BIGINT) FROM cum, tot
             WHERE cum >= (k * 99 + 99) // 100)
          UNION ALL SELECT 'top' || rk || '_key', user_id FROM top
          UNION ALL SELECT 'top' || rk || '_n', CAST(n AS BIGINT) FROM top
        ) ORDER BY metric"""))
  )
}
