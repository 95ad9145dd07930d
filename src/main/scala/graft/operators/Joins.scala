package graft.operators

import graft.{Cut, Q, QueryModule, Session, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.C — join operators.
  *
  * Scale design: dimension tables (region/nation/customer at low SF, and the
  * literal band table) are broadcast so fact-side data never shuffles for
  * enrichment joins; fact⋈fact joins (lineitem⋈orders) shuffle both sides on
  * the join key once and let AQE pick SMJ vs shuffled-hash at runtime. The
  * as-of join is the one operator Spark lacks natively: implemented as an
  * equi-join on the entity key + per-row window top-1, which shuffles on the
  * entity key (not the timestamp), so it scales horizontally with key
  * cardinality and never materializes a cross product.
  */
object Joins extends QueryModule {

  /** The AQE skew scenario, shared by the join_skew_aqe op and its
    * PlanShapeSpec skew=true assertion so the two can never drift:
    * repartition(8) gives the shuffle multiple map tasks (skewed reduce
    * partitions split along MAPPER boundaries), the literal dim keeps
    * the rule's SMJ(Sort(Shuffle), Sort(Shuffle)) pattern clean.
    */
  private[graft] def skewJoinFrame(
      s: SparkSession, dir: String): DataFrame = {
    val sp2 = s
    import sp2.implicits._
    val fact = Tables.lineitem(s, dir).repartition(8)
      .select(when(col("l_orderkey") % 100 < 90, lit(1L))
        .otherwise(col("l_orderkey") % 100).as("hot_key"),
        col("l_quantity"))
    val dim = (Seq(1L) ++ (90L to 99L))
      .map(k => (k, s"b${k % 4}")).toDF("hot_key", "bucket")
    fact.join(dim, Seq("hot_key"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(12,2)")), 2)
          .cast("double").as("sum_qty"))
      .orderBy("bucket")
  }

  /** Skew-join thresholds scaled to harness partition sizes (the
    * defaults target real cluster shuffles), for a `Session.withConf`
    * scope around [[skewJoinFrame]].
    */
  private[graft] val skewConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  def all: Seq[Q] = Seq(
    Q(
      "join_broadcast",
      (s, dir) => {
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "inner")
          .select(col("n_nationkey"), col("n_name"), col("r_name"))
          .orderBy("n_nationkey")
      },
      oracle = Some("""
        SELECT n_nationkey, n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
        ORDER BY n_nationkey""")),

    Q(
      "join_shuffle",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
          .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
            col("l_extendedprice"), col("o_totalprice"))
          // lineitem keys are non-unique: include l_extendedprice so the
          // sort is total up to fully-identical rows.
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
      },
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, o_custkey, l_extendedprice, o_totalprice
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ORDER BY l_orderkey, l_linenumber, l_extendedprice""")),

    // 4-way star join, TPC-H Q3/Q5 shape: facts joined on keys, dims
    // broadcast, aggregated down to nation level.
    Q(
      "join_multiway",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
        val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
              .as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy("n_name")
      },
      oracle = Some("""
        SELECT n_name,
               round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name""")),

    Q(
      "join_left_outer",
      (s, dir) => {
        val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
        val o = Tables.orders(s, dir)
          .filter(col("o_totalprice") > 460000.0)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"),
            col("o_totalprice"))
          .orderBy(col("c_custkey"), coalesce(col("o_orderkey"), lit(-1L)))
      },
      oracle = Some("""
        SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
        FROM customer
        LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 460000.0) o
          ON c_custkey = o.o_custkey
        ORDER BY c_custkey, coalesce(o_orderkey, -1)""")),

    Q(
      "join_full_outer",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        val c = Tables.customer(s, dir)
          .filter(col("c_custkey") < 300)
          .select("c_custkey", "c_mktsegment")
        ev.join(c, ev("user_id") === c("c_custkey"), "full")
          .select(
            coalesce(col("user_id"), col("c_custkey")).as("uid"),
            col("n_events"), col("c_mktsegment"))
          .orderBy("uid")
      },
      oracle = Some("""
        SELECT coalesce(e.user_id, c.c_custkey) AS uid, e.n_events, c.c_mktsegment
        FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) e
        FULL OUTER JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 300) c
          ON e.user_id = c.c_custkey
        ORDER BY uid""")),

    Q(
      "join_semi",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
          .filter(col("o_totalprice") > 460000.0)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 460000.0)
        ORDER BY c_custkey""")),

    Q(
      "join_anti",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
          .filter(col("o_totalprice") > 460000.0)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 460000.0)
        ORDER BY c_custkey""")),

    // Theta/range join against a tiny literal band table: planned as a
    // Bucketed co-located join: both fact tables written bucketBy(8) on the
    // join key, so the sort-merge join reads bucket i against bucket i with
    // NO Exchange on either side (asserted in PlanShapeSpec). At 100 TB
    // this is the difference between a join that reshuffles both tables and
    // one that only streams co-located files. The merge hint pins SMJ so
    // the demo doesn't degrade to a broadcast at small SF.
    // Grid-bucketed spatial proximity join (round 12) — the Sedona-style
    // point-join shape: coordinates derive portably from md5 (integer
    // microdegrees, so both engines place every point identically), each
    // point lands in a 2°-grid cell, and candidates come from a 9-cell
    // neighborhood equi-join (3×3 explode on the probe side — bounded
    // fan-out, never a cross join). The refine predicate is INTEGER
    // squared microdegree distance (no trig — a libm sin/cos ulp can
    // flip a boundary pair across engines; sqrt alone is IEEE
    // correctly-rounded, so the reported distance is exact). At scale
    // this is O(points per cell-neighborhood): the join clusters on the
    // cell key and density bounds per-cell work.
    Q(
      "join_geo_cell",
      (s, dir) => {
        val CELL = 2000000L // 2° in microdegrees; radius = one cell
        // Portable md5-derived integer microdegree coordinates; the
        // table-name salt keeps customer k and supplier k from hashing
        // to the SAME point (dist-0 self-pairs would dominate). The
        // join mechanics live in api.Joins.geoCellJoin.
        def pts(df: org.apache.spark.sql.DataFrame,
            id: org.apache.spark.sql.Column,
            salt: String) = df.select(
          id.as("id"),
          (conv(substring(md5(concat(lit(salt), id.cast("string"),
            lit("lat"))), 1, 15), 16, 10).cast("long")
            % 120000000L - 60000000L).as("lat"),
          (conv(substring(md5(concat(lit(salt), id.cast("string"),
            lit("lon"))), 1, 15), 16, 10).cast("long")
            % 340000000L - 170000000L).as("lon"))
        graft.api.Joins.geoCellJoin(
          pts(Tables.customer(s, dir), col("c_custkey"), "ck"),
          col("id"), col("lat"), col("lon"),
          pts(Tables.supplier(s, dir), col("s_suppkey"), "sk"),
          col("id"), col("lat"), col("lon"),
          cellMicro = CELL)
          .select(col("id_a").as("c_custkey"), col("id_b").as("s_suppkey"),
            col("dist_micro").as("dist_microdeg"))
          .orderBy("c_custkey", "s_suppkey")
      },
      oracle = Some("""
        WITH cp AS (
          SELECT c_custkey AS ck,
                 ('0x' || substring(md5('ck' || CAST(c_custkey AS VARCHAR) || 'lat'),
                   1, 15))::BIGINT % 120000000 - 60000000 AS lat,
                 ('0x' || substring(md5('ck' || CAST(c_custkey AS VARCHAR) || 'lon'),
                   1, 15))::BIGINT % 340000000 - 170000000 AS lon
          FROM customer),
        sp AS (
          SELECT s_suppkey AS sk,
                 ('0x' || substring(md5('sk' || CAST(s_suppkey AS VARCHAR) || 'lat'),
                   1, 15))::BIGINT % 120000000 - 60000000 AS lat,
                 ('0x' || substring(md5('sk' || CAST(s_suppkey AS VARCHAR) || 'lon'),
                   1, 15))::BIGINT % 340000000 - 170000000 AS lon
          FROM supplier),
        j AS (
          SELECT ck, sk,
                 (cp.lat - sp.lat) * (cp.lat - sp.lat) +
                 (cp.lon - sp.lon) * (cp.lon - sp.lon) AS d2
          FROM cp JOIN sp
            ON sp.lat // 2000000 BETWEEN cp.lat // 2000000 - 1
                                     AND cp.lat // 2000000 + 1
           AND sp.lon // 2000000 BETWEEN cp.lon // 2000000 - 1
                                     AND cp.lon // 2000000 + 1)
        SELECT ck AS c_custkey, sk AS s_suppkey,
               CAST(round(sqrt(d2)) AS BIGINT) AS dist_microdeg
        FROM j WHERE d2 <= 4000000000000
        ORDER BY c_custkey, s_suppkey""")),

    // EXACT spatial nearest-neighbor join: every customer point gets its
    // globally nearest supplier facility, grid-certified where possible
    // (best candidate d² strictly under cell² proves no off-grid facility
    // can beat it), brute-forced only for the ~e^−π Poisson-void remnant.
    // Cell width adapts to facility density (~1 facility/cell at every
    // scale: eps = √(area/m)), so candidate volume per probe stays ~9 and
    // the plan's cost is |probes| + 9·|facilities| + 4%·|probes|·bcast —
    // linear at 100 TB. d² stays exact BIGINT end-to-end; the oracle
    // computes the true global argmin over the cross product and the same
    // strict-inequality phase tag, so the certification logic itself is
    // oracle-audited. Mechanics in api.Joins.nearestFacility.
    Q(
      "join_spatial_knn",
      (s, dir) => {
        def pts(df: org.apache.spark.sql.DataFrame,
            id: org.apache.spark.sql.Column,
            salt: String) = df.select(
          id.as("pid"),
          (conv(substring(md5(concat(lit(salt), id.cast("string"),
            lit("lat"))), 1, 15), 16, 10).cast("long")
            % 120000000L - 60000000L).as("lat"),
          (conv(substring(md5(concat(lit(salt), id.cast("string"),
            lit("lon"))), 1, 15), 16, 10).cast("long")
            % 340000000L - 170000000L).as("lon"))
        val fac = Cut(pts(Tables.supplier(s, dir), col("s_suppkey"), "kf"))
        val eps = math.round(math.sqrt(4.08e16 / fac.rows))
        graft.api.Joins.nearestFacility(
            pts(Tables.customer(s, dir), col("c_custkey"), "kc"),
            col("pid"), col("lat"), col("lon"),
            fac.df, col("pid"), col("lat"), col("lon"),
            cellMicro = eps)
          .select(col("id").as("c_custkey"), col("nn_id").as("nn_suppkey"),
            col("d2"), col("phase"))
          .orderBy("c_custkey")
      },
      oracle = Some("""
        WITH pc AS (
          SELECT c_custkey AS id,
                 ('0x' || substring(md5('kc' || CAST(c_custkey AS VARCHAR) || 'lat'),
                   1, 15))::BIGINT % 120000000 - 60000000 AS lat,
                 ('0x' || substring(md5('kc' || CAST(c_custkey AS VARCHAR) || 'lon'),
                   1, 15))::BIGINT % 340000000 - 170000000 AS lon
          FROM customer),
        pf AS (
          SELECT s_suppkey AS sid,
                 ('0x' || substring(md5('kf' || CAST(s_suppkey AS VARCHAR) || 'lat'),
                   1, 15))::BIGINT % 120000000 - 60000000 AS lat,
                 ('0x' || substring(md5('kf' || CAST(s_suppkey AS VARCHAR) || 'lon'),
                   1, 15))::BIGINT % 340000000 - 170000000 AS lon
          FROM supplier),
        ee AS (SELECT CAST(round(sqrt(40800000000000000.0 / count(*)))
                 AS BIGINT) AS eps FROM pf),
        ranked AS (
          SELECT pc.id, pf.sid,
                 (pc.lat - pf.lat) * (pc.lat - pf.lat) +
                 (pc.lon - pf.lon) * (pc.lon - pf.lon) AS d2,
                 row_number() OVER (PARTITION BY pc.id ORDER BY
                   (pc.lat - pf.lat) * (pc.lat - pf.lat) +
                   (pc.lon - pf.lon) * (pc.lon - pf.lon), pf.sid) AS rn
          FROM pc CROSS JOIN pf)
        SELECT id AS c_custkey, sid AS nn_suppkey, d2,
               CASE WHEN d2 < (SELECT eps * eps FROM ee)
                 THEN 'grid' ELSE 'fallback' END AS phase
        FROM ranked WHERE rn = 1
        ORDER BY c_custkey""")),

    Q(
      "join_bucketed",
      (s, dir) => {
        val (li, ord) = LayoutCache.bucketedTables(s, dir)
        s.table(li).hint("merge")
          .join(s.table(ord),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(sum("l_quantity"), 4).as("sum_qty"))
          .orderBy("o_orderstatus")
      },
      oracle = Some("""
        SELECT o_orderstatus, count(*) AS n,
               round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Salted skew join: `event_type` has only 5 values, so a plain shuffle
    // join on it sends each key's entire fact volume to one reducer — the
    // canonical skew pathology at 100 TB. The salt spreads every hot key
    // over 8 reducers (fact side: deterministic salt from event_id; dim
    // side: exploded 8×), and the oracle proves the rewrite is
    // result-identical to the unsalted join.
    Q(
      "join_skew_salted",
      (s, dir) => {
        val dim = s.createDataFrame(Seq(
          ("click", "engagement"), ("view", "engagement"),
          ("purchase", "revenue"), ("signup", "growth"),
          ("error", "ops"))).toDF("event_type", "category")
        graft.api.Joins.salted(
          Tables.events(s, dir), dim, "event_type",
          factSaltSource = col("event_id"), salts = 8)
          .groupBy("category")
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
          .orderBy("category")
      },
      oracle = Some("""
        SELECT CASE event_type
                 WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
                 WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
                 ELSE 'ops' END AS category,
               count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1 ORDER BY category""")),

    // AQE skew-join — the RUNTIME answer to the same hot-key problem
    // join_skew_salted solves by hand: a synthetic key sends ~90% of
    // lineitem to one partition, broadcast is disabled so the join must
    // shuffle, and adaptive execution detects the oversized partition at
    // run time and splits it across tasks (skew=true in the final plan,
    // asserted by PlanShapeSpec). Two preconditions the defaults hide
    // (measured, NOTES.md): thresholds are lowered in-query because the
    // defaults target real cluster partition sizes, and the fact side is
    // repartitioned to 8 map tasks FIRST — a skewed reduce partition is
    // split along MAPPER boundaries, so a single-mapper shuffle (one
    // parquet file) is unsplittable no matter how skewed. The dim is a
    // literal table: a post-shuffle aggregate under the join's other
    // side breaks the rule's SMJ(Sort(Shuffle), Sort(Shuffle)) pattern.
    // Results are plain join algebra the oracle replays.
    Q(
      "join_skew_aqe",
      (s, dir) => {
        val sp2 = s
        import sp2.implicits._
        Session.withConf(s, skewConfs: _*) {
          // Materialize NOW, inside the conf scope: the restored confs
          // must not leak into the lazily-executed plan.
          skewJoinFrame(s, dir).collect().toSeq
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
            .toDF("bucket", "n", "sum_qty")
        }
      },
      oracle = Some("""
        WITH f AS (
          SELECT CASE WHEN l_orderkey % 100 < 90 THEN 1
                      ELSE l_orderkey % 100 END AS hot_key, l_quantity
          FROM lineitem),
        d AS (
          SELECT k AS hot_key, 'b' || CAST(k % 4 AS VARCHAR) AS bucket
          FROM (SELECT unnest([1, 90, 91, 92, 93, 94, 95, 96, 97, 98, 99])
                  AS k))
        SELECT bucket, count(*) AS n,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2)
                 AS DOUBLE) AS sum_qty
        FROM f JOIN d USING (hot_key)
        GROUP BY bucket ORDER BY bucket""")),

    // broadcast nested-loop join (5 band rows broadcast to every partition),
    // so the fact side streams through without any shuffle.
    //
    // SCALE NOTE: BNLJ is the declared surface demo for arbitrary theta
    // predicates and is only safe because one side is a literal handful of
    // rows under an explicit broadcast — per fact row it costs O(bands).
    // For two LARGE sides a theta join must not be expressed this way: use
    // the bin-explode equi-join shapes instead — `join_range_binned`
    // (point-in-range via shared bin keys) or `join_interval_overlap`
    // (interval×interval via overlapping bin keys) — which shuffle on bin
    // hashes and never enumerate the cross space. PlanShapeSpec pins this
    // query to BroadcastNestedLoopJoin (never a cartesian of two big
    // sides).
    Q(
      "join_theta_range",
      (s, dir) => {
        import s.implicits._
        val bands = Seq(
          (900.0, 925.0, "b1_900"),
          (925.0, 950.0, "b2_925"),
          (950.0, 975.0, "b3_950"),
          (975.0, 1000.0, "b4_975")
        ).toDF("lo", "hi", "band")
        val p = Tables.part(s, dir)
        p.join(broadcast(bands),
            p("p_retailprice") >= bands("lo") && p("p_retailprice") < bands("hi"),
            "inner")
          .groupBy(col("band"))
          .agg(
            count(lit(1)).as("n_parts"),
            round(avg("p_retailprice"), 4).as("avg_price"))
          .orderBy("band")
      },
      oracle = Some("""
        SELECT band, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
        FROM part
        JOIN (VALUES (900.0, 925.0, 'b1_900'), (925.0, 950.0, 'b2_925'),
                     (950.0, 975.0, 'b3_950'), (975.0, 1000.0, 'b4_975')) b(lo, hi, band)
          ON p_retailprice >= b.lo AND p_retailprice < b.hi
        GROUP BY band
        ORDER BY band""")),

    // Runtime bloom-filter join pruning: the selective dim-side predicate
    // is turned into a bloom filter that row-filters the fact scan BEFORE
    // the shuffle (Spark's InjectRuntimeFilter) — at 100 TB this drops the
    // shuffle volume of a shuffle join by the dim's selectivity without
    // any layout change (DPP's row-level sibling for non-partitioned
    // keys). Thresholds are scoped down so the rewrite fires at test
    // scale; broadcast is disabled to exercise the shuffle-join path the
    // rule exists for. Result is plan-invariant (oracle-checked).
    Q(
      "join_bloom_filtered",
      (s, dir) => {
        Session.withConf(s,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
            -> "0") {
          val o = Tables.orders(s, dir)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select("o_orderkey", "o_totalprice")
          val df = Tables.lineitem(s, dir)
            .select("l_orderkey", "l_quantity")
            .join(o, col("l_orderkey") === col("o_orderkey"))
            .groupBy()
            .agg(count(lit(1)).as("n"),
              round(sum("l_quantity"), 4).as("sum_qty"))
          // Planning is lazy: force it while the scoped thresholds are in
          // effect (QueryExecution caches the plan; the later action
          // reuses it — without this the rule would see restored confs).
          df.queryExecution.executedPlan
          df
        }
      },
      oracle = Some("""
        SELECT count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'""")),

    // As-of join: for each event, the latest order of the same customer at
    // or before the event timestamp (non-strict, ties broken by orderkey).
    // Composed as LEFT equi-join on the entity key + range predicate +
    // top-1 window per event — the standard Spark strategy for
    // point-in-time lookups; events with no prior order are retained with
    // null order columns. The join shuffles on user_id/o_custkey; the
    // top-1 window then re-shuffles on event_id (its partition key).
    Q(
      "join_asof",
      (s, dir) => {
        val e = Tables.events(s, dir).select("event_id", "user_id", "ts")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        graft.api.Joins.asOf(
          e, leftId = col("event_id"), leftKey = col("user_id"),
          leftTime = col("ts"),
          right = o, rightKey = col("o_custkey"),
          rightTime = col("o_orderdate"), tieBreak = col("o_orderkey"))
          .select(col("event_id"), col("user_id"),
            col("o_orderkey").as("last_orderkey"),
            col("o_totalprice").as("last_price"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id, o_orderkey AS last_orderkey, o_totalprice AS last_price
        FROM (
          SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
                 row_number() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          FROM events e
          LEFT JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        ) WHERE rn = 1
        ORDER BY event_id""")),

    // merge_asof with `tolerance`: the feature-store staleness contract —
    // each event takes its user's latest order AT OR BEFORE the event,
    // but only if that order is at most 30 days old; a staler match is
    // dropped (null columns), indistinguishable from never-matched. The
    // bound is per-left-row inside the join condition, so the plan is
    // still ONE hash join clustered on the key (no right-side prefilter
    // could express it). days_stale makes the contract visible in the
    // output: always 0..30 on matched rows (spec-asserted).
    Q(
      "join_asof_tolerance",
      (s, dir) => {
        val e = Tables.events(s, dir).select("event_id", "user_id", "ts")
        val o = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        graft.api.Joins.asOfTolerance(
          e, leftId = col("event_id"), leftKey = col("user_id"),
          leftTime = col("ts"),
          right = o, rightKey = col("o_custkey"),
          rightTime = col("o_orderdate"), tieBreak = col("o_orderkey"),
          maxAge = expr("INTERVAL 30 DAYS"))
          .select(col("event_id"), col("user_id"),
            col("o_orderkey").as("last_orderkey"),
            col("o_totalprice").as("last_price"),
            datediff(col("ts").cast("date"), col("o_orderdate"))
              .as("days_stale"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id, o_orderkey AS last_orderkey,
               o_totalprice AS last_price,
               date_diff('day', o_orderdate, CAST(ts AS DATE)) AS days_stale
        FROM (
          SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
                 o.o_orderdate,
                 row_number() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_orderdate DESC,
                                             o.o_orderkey DESC) AS rn
          FROM events e
          LEFT JOIN orders o
            ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
           AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
        ) WHERE rn = 1
        ORDER BY event_id""")),

    // Blocked fuzzy join (record linkage): candidates from EQUALITY on
    // (brand, size) blocking keys — an ordinary hash join — and only
    // candidates pay the levenshtein comparison. Both engines implement
    // classic edit distance, so the pair set hash-matches exactly.
    Q(
      "join_fuzzy",
      (s, dir) => {
        val p = Tables.part(s, dir)
        graft.api.Joins.fuzzyJoin(
          p, col("p_partkey"), col("p_name"),
          Seq(col("p_brand"), col("p_size")),
          p.select(col("p_partkey").as("pk2"), col("p_name").as("pn2"),
            col("p_brand").as("pb2"), col("p_size").as("ps2")),
          col("pk2"), col("pn2"), Seq(col("pb2"), col("ps2")),
          maxDist = 3)
          .filter(col("id_l") < col("id_r"))
          .select(col("id_l"), col("id_r"), col("text_l"), col("text_r"),
            col("edit_dist"))
          .orderBy("id_l", "id_r")
      },
      oracle = Some("""
        SELECT a.p_partkey AS id_l, b.p_partkey AS id_r,
               a.p_name AS text_l, b.p_name AS text_r,
               levenshtein(a.p_name, b.p_name) AS edit_dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 3
        ORDER BY id_l, id_r""")),

    // SQL LATERAL correlated subquery: top-2 orders per customer via a
    // per-row dependent subquery — Spark decorrelates it into a window
    // top-k under the hood; the surface is the point.
    Q(
      "join_lateral",
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("graft_cust_lat")
        Tables.orders(s, dir).createOrReplaceTempView("graft_ord_lat")
        s.sql("""
          SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          FROM graft_cust_lat c,
          LATERAL (SELECT o_orderkey, o_totalprice
                   FROM graft_ord_lat o
                   WHERE o.o_custkey = c.c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          ORDER BY c_custkey, o_orderkey""")
      },
      oracle = Some("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice
                 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c_custkey, o_orderkey""")),

    // Point-in-interval join with NO equality key, made shuffle-joinable
    // by time binning: each signup's 2-hour window expands to the hour
    // bins it covers (≤3 rows), each purchase maps to exactly ONE bin, so
    // the equi-join on bin finds every qualifying pair exactly once (no
    // post-join dedup needed) and the real predicate refines in the same
    // join condition. This replaces the O(|S|·|P|) broadcast-nested-loop
    // plan Spark would otherwise pick — at 100 TB neither side
    // broadcasts, but bins hash-partition like any key; fan-out is
    // bounded by interval_span/bin_width + 1. LEFT join keeps
    // zero-purchase signups (every bin row misses ⇒ count(null) = 0).
    Q(
      "join_range_binned",
      (s, dir) => {
        val HOUR = 3600L * 1000000L // µs
        val ev = Tables.events(s, dir)
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("s_id"), unix_micros(col("ts")).as("lo"))
          .withColumn("hi", col("lo") + 2 * HOUR)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), unix_micros(col("ts")).as("pt"))
          .withColumn("bin", expr(s"pt div $HOUR"))
        val binned = signups.withColumn("bin",
          explode(sequence(expr(s"lo div $HOUR"), expr(s"hi div $HOUR"))))
        binned
          .join(purchases,
            binned("bin") === purchases("bin") &&
              col("pt") >= col("lo") && col("pt") < col("hi"),
            "left")
          .groupBy("s_id")
          .agg(count(col("p_id")).as("n_purchases"))
          .select(col("s_id").as("event_id"), col("n_purchases"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT s.event_id,
               count(p.event_id) AS n_purchases
        FROM events s
        LEFT JOIN events p
          ON p.event_type = 'purchase'
         AND epoch_us(CAST(p.ts AS TIMESTAMP)) >= epoch_us(CAST(s.ts AS TIMESTAMP))
         AND epoch_us(CAST(p.ts AS TIMESTAMP)) < epoch_us(CAST(s.ts AS TIMESTAMP)) + 7200000000
        WHERE s.event_type = 'signup'
        GROUP BY s.event_id
        ORDER BY s.event_id""")),

    // Interval × interval overlap join (no equality key): signup windows
    // [ts, ts+2h) vs error windows [ts, ts+1h), each overlapping pair
    // found exactly once by api.Joins.intervalOverlap's assigned-bin
    // trick (pair counted only in bin greatest(lo1,lo2) div W — no
    // post-join distinct). The left join back to signups keeps
    // zero-overlap windows at count 0. DuckDB oracles the same semantics
    // as a plain theta join, which it can afford at sf0.01; the binned
    // equi-join is the form that still hash-partitions at 100 TB.
    Q(
      "join_interval_overlap",
      (s, dir) => {
        val HOUR = 3600L * 1000000L
        val ev = Tables.events(s, dir)
        val su = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("s_id"), unix_micros(col("ts")).as("slo"))
          .withColumn("shi", col("slo") + 2 * HOUR)
        val er = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("e_id"), unix_micros(col("ts")).as("elo"))
          .withColumn("ehi", col("elo") + HOUR)
        val pairs = graft.api.Joins.intervalOverlap(
          su, col("s_id"), col("slo"), col("shi"),
          er, col("e_id"), col("elo"), col("ehi"), HOUR)
        val perSignup = pairs.groupBy("left_id")
          .agg(count(lit(1)).as("n_overlap"))
        su.join(perSignup, su("s_id") === perSignup("left_id"), "left")
          .select(col("s_id").as("event_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
          .orderBy("event_id")
      },
      oracle = Some("""
        WITH s AS (
          SELECT event_id AS s_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS slo,
                 epoch_us(CAST(ts AS TIMESTAMP)) + 7200000000 AS shi
          FROM events WHERE event_type = 'signup'),
        e AS (
          SELECT event_id AS e_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS elo,
                 epoch_us(CAST(ts AS TIMESTAMP)) + 3600000000 AS ehi
          FROM events WHERE event_type = 'error')
        SELECT s.s_id AS event_id, count(e.e_id) AS n_overlap
        FROM s LEFT JOIN e ON s.slo < e.ehi AND e.elo < s.shi
        GROUP BY 1 ORDER BY 1""")),

    // Allen-algebra interval classification join (round 13): every
    // 30-minute-gap user session joined to each calendar day it touches,
    // with the PAIR classified into its Allen relation (during /
    // contains / overlaps / overlapped_by / starts / started_by /
    // finishes / finished_by / equals) — temporal reasoning engines and
    // downtime/billing attribution jobs need the full relation, not just
    // the boolean join_interval_overlap answers. Candidate generation is
    // the day-bin explode (a session touches ⌈span/день⌉ ≤ 2-ish days —
    // bounded fan-out, no theta join anywhere); classification is a
    // fixed CASE ladder over four exact integer comparisons, so the
    // census replays bit-exactly. Day treated as the closed µs interval
    // [d·86400e6, (d+1)·86400e6 − 1]. Census output: relation → pair
    // count (the degenerate equality relations are structurally possible
    // and provably absent on second-granularity data — their zero rows
    // simply don't appear).
    Q(
      "join_interval_allen",
      (s, dir) => {
        val D = 86400000000L
        val sess = graft.api.Pipeline.sessionize(
            Tables.events(s, dir), col("user_id"), col("ts"),
            col("event_id"), gapMinutes = 30)
          .groupBy(col("sess_key"), col("session_seq"))
          .agg(min("sess_us").as("st"), max("sess_us").as("en"))
        val pairs = sess
          .select(col("st"), col("en"),
            explode(sequence(expr(s"st div ${D}L"), expr(s"en div ${D}L")))
              .as("day"))
          .withColumn("d0", col("day") * D)
          .withColumn("d1", (col("day") + 1) * D - 1)
        val rel = when(col("st") === col("d0") && col("en") === col("d1"),
            "equals")
          .when(col("st") === col("d0") && col("en") < col("d1"), "starts")
          .when(col("st") === col("d0") && col("en") > col("d1"),
            "started_by")
          .when(col("en") === col("d1") && col("st") > col("d0"),
            "finishes")
          .when(col("en") === col("d1") && col("st") < col("d0"),
            "finished_by")
          .when(col("st") > col("d0") && col("en") < col("d1"), "during")
          .when(col("st") < col("d0") && col("en") > col("d1"), "contains")
          .when(col("st") < col("d0"), "overlaps")
          .otherwise("overlapped_by")
        pairs.select(rel.as("relation"))
          .groupBy("relation").agg(count(lit(1)).as("n_pairs"))
          .orderBy("relation")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        flagged AS (
          SELECT user_id, event_id, us,
                 CASE WHEN us - lag(us) OVER w > 1800000000
                        OR lag(us) OVER w IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sessed AS (
          SELECT user_id, us,
                 sum(is_new) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS seq
          FROM flagged),
        sess AS (
          SELECT user_id, seq, min(us) AS st, max(us) AS en
          FROM sessed GROUP BY 1, 2),
        pairs AS (
          SELECT st, en,
                 unnest(generate_series(st // 86400000000,
                                        en // 86400000000)) AS day
          FROM sess),
        cls AS (
          SELECT CASE
            WHEN st = day * 86400000000
                 AND en = (day + 1) * 86400000000 - 1 THEN 'equals'
            WHEN st = day * 86400000000
                 AND en < (day + 1) * 86400000000 - 1 THEN 'starts'
            WHEN st = day * 86400000000 THEN 'started_by'
            WHEN en = (day + 1) * 86400000000 - 1
                 AND st > day * 86400000000 THEN 'finishes'
            WHEN en = (day + 1) * 86400000000 - 1 THEN 'finished_by'
            WHEN st > day * 86400000000
                 AND en < (day + 1) * 86400000000 - 1 THEN 'during'
            WHEN st < day * 86400000000
                 AND en > (day + 1) * 86400000000 - 1 THEN 'contains'
            WHEN st < day * 86400000000 THEN 'overlaps'
            ELSE 'overlapped_by' END AS relation
          FROM pairs)
        SELECT relation, count(*) AS n_pairs
        FROM cls GROUP BY relation ORDER BY relation""")),

    // Nearest-direction as-of join (merge_asof direction='nearest'): each
    // signup matched to the same user's CLOSEST purchase by |Δt| — past
    // or future — vs join_asof's backward-only lookup. Ties pinned
    // (earlier purchase, then smaller event_id) so the top-1 window is
    // deterministic in both engines. Users with no purchases survive
    // with nulls via the left join.
    Q(
      "join_asof_nearest",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val su = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("s_id"), col("user_id"),
            unix_micros(col("ts")).as("s_mu"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            unix_micros(col("ts")).as("p_mu"))
        graft.api.Joins.asOfNearest(
            su, col("s_id"), col("user_id"), col("s_mu"),
            pu, col("p_user"), col("p_mu"), col("p_id"))
          .select(col("s_id").as("event_id"), col("p_id"),
            abs(col("p_mu") - col("s_mu")).as("dt_us"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT s_id AS event_id, p_id, dt_us
        FROM (
          SELECT s.event_id AS s_id, p.event_id AS p_id,
                 abs(epoch_us(CAST(p.ts AS TIMESTAMP)) -
                     epoch_us(CAST(s.ts AS TIMESTAMP))) AS dt_us,
                 row_number() OVER (PARTITION BY s.event_id
                   ORDER BY abs(epoch_us(CAST(p.ts AS TIMESTAMP)) -
                                epoch_us(CAST(s.ts AS TIMESTAMP))) ASC,
                            epoch_us(CAST(p.ts AS TIMESTAMP)) ASC,
                            p.event_id ASC) AS rn
          FROM events s
          LEFT JOIN events p
            ON p.user_id = s.user_id AND p.event_type = 'purchase'
          WHERE s.event_type = 'signup')
        WHERE rn = 1 ORDER BY s_id""")),

    // Marketing attribution: every purchase credits the same user's most
    // recent PRECEDING click (last-touch) — the canonical as-of lookup,
    // expressed on api.Joins.asOf so the registry demonstrates the
    // production composition (equi-join on user + backward top-1
    // window). Purchases with no prior click stay with a null credit.
    Q(
      "join_asof_forward",
      (s, dir) => {
        // Time-to-recovery: each error event resolved by the user's
        // NEXT purchase at or after it (pandas merge_asof
        // direction='forward') — the flipped twin of join_asof's
        // last-before lookup; unresolved errors survive with nulls.
        val ev = Tables.events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"),
            unix_micros(col("ts")).as("e_mu"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            unix_micros(col("ts")).as("p_mu"))
        graft.api.Joins.asOfForward(
            errors, col("err_id"), col("user_id"), col("e_mu"),
            purchases, col("p_user"), col("p_mu"), col("p_id"))
          .select(col("err_id").as("event_id"),
            col("p_id").as("next_purchase"),
            (col("p_mu") - col("e_mu")).as("lag_us"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT err_id AS event_id, p_id AS next_purchase, lag_us
        FROM (
          SELECT e.event_id AS err_id, p.event_id AS p_id,
                 epoch_us(CAST(p.ts AS TIMESTAMP))
                   - epoch_us(CAST(e.ts AS TIMESTAMP)) AS lag_us,
                 row_number() OVER (PARTITION BY e.event_id
                   ORDER BY p.ts ASC, p.event_id ASC) AS rn
          FROM (SELECT * FROM events WHERE event_type = 'error') e
          LEFT JOIN (SELECT * FROM events
                     WHERE event_type = 'purchase') p
            ON p.user_id = e.user_id AND p.ts >= e.ts
        ) WHERE rn = 1
        ORDER BY event_id""")),

    Q(
      "join_attribution_window",
      (s, dir) => {
        // Last-click attribution with the industry-standard LOOKBACK
        // WINDOW (30 min here): a purchase credits its latest preceding
        // click only if the gap is inside the window, else it expires
        // unattributed. Post-filtering the unwindowed as-of is EXACTLY
        // the windowed semantics — the latest click is the only
        // candidate; any other in-window click is older than it, so if
        // the latest is out of window all are. (At scale the tolerance
        // is also what bounds streaming as-of state retention.)
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            unix_micros(col("ts")).as("p_mu"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            unix_micros(col("ts")).as("c_mu"))
        val winUs = 1800000000L
        graft.api.Joins.asOf(
            purchases, col("p_id"), col("user_id"), col("p_mu"),
            clicks, col("c_user"), col("c_mu"), col("c_id"))
          .withColumn("in_win",
            col("c_id").isNotNull && col("p_mu") - col("c_mu") <= winUs)
          .select(col("p_id").as("event_id"),
            when(col("in_win"), col("c_id")).as("credited_click"),
            when(col("in_win"), col("p_mu") - col("c_mu")).as("lag_us"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT p_id AS event_id,
               CASE WHEN lag_us <= 1800000000 THEN c_id END
                 AS credited_click,
               CASE WHEN lag_us <= 1800000000 THEN lag_us END AS lag_us
        FROM (
          SELECT p.event_id AS p_id, c.event_id AS c_id,
                 epoch_us(CAST(p.ts AS TIMESTAMP))
                   - epoch_us(CAST(c.ts AS TIMESTAMP)) AS lag_us,
                 row_number() OVER (PARTITION BY p.event_id
                   ORDER BY c.ts DESC, c.event_id DESC) AS rn
          FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
            ON c.user_id = p.user_id AND c.ts <= p.ts
        ) WHERE rn = 1
        ORDER BY event_id""")),

    Q(
      "join_attribution",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            unix_micros(col("ts")).as("p_mu"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            unix_micros(col("ts")).as("c_mu"))
        graft.api.Joins.asOf(
            purchases, col("p_id"), col("user_id"), col("p_mu"),
            clicks, col("c_user"), col("c_mu"), col("c_id"))
          .select(col("p_id").as("event_id"), col("c_id").as("credited_click"),
            (col("p_mu") - col("c_mu")).as("lag_us"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT p_id AS event_id, c_id AS credited_click, lag_us
        FROM (
          SELECT p.event_id AS p_id, c.event_id AS c_id,
                 epoch_us(CAST(p.ts AS TIMESTAMP)) -
                 epoch_us(CAST(c.ts AS TIMESTAMP)) AS lag_us,
                 row_number() OVER (PARTITION BY p.event_id
                   ORDER BY epoch_us(CAST(c.ts AS TIMESTAMP)) DESC,
                            c.event_id DESC) AS rn
          FROM events p
          LEFT JOIN events c
            ON c.user_id = p.user_id AND c.event_type = 'click'
           AND epoch_us(CAST(c.ts AS TIMESTAMP)) <=
               epoch_us(CAST(p.ts AS TIMESTAMP))
          WHERE p.event_type = 'purchase')
        WHERE rn = 1 ORDER BY p_id"""))
  )
}
