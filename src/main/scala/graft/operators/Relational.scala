package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** §2.B (projection/filter/predicates) + §2.F (sort/limit/set ops).
  *
  * All predicates here are plain Catalyst expressions, so they push down to
  * the parquet scan (visible as PushedFilters in .explain) and stay inside
  * whole-stage codegen. `limit_topk` deliberately uses orderBy+limit so the
  * planner picks TakeOrderedAndProject (per-partition top-k, no global sort)
  * — the shape that survives a 100× scale-up.
  */
object Relational extends QueryModule {

  def all: Seq[Q] = Seq(
    Q(
      "project_compute",
      (s, dir) =>
        Tables.lineitem(s, dir)
          // Per-row products of identical inputs evaluate bit-identically
          // under IEEE 754 in both engines, so NO rounding here — round()
          // itself is what diverges (Spark decimal-string HALF_UP vs DuckDB
          // binary) exactly at decimal ties like x.xxxx5.
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("disc_price"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
              (lit(1.0) + col("l_tax"))).as("net_price"))
          // (l_orderkey, l_linenumber) is NOT unique in this corpus —
          // order by every output column for a deterministic total order.
          .orderBy("l_orderkey", "l_linenumber", "disc_price", "net_price"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1.0 - l_discount) AS disc_price,
               l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS net_price
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, disc_price, net_price""")),

    Q(
      "filter_compound",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(
            (col("l_returnflag") === "A" && col("l_quantity") > 30) ||
              (col("l_returnflag") === "N" && !(col("l_linestatus") === "F")))
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
            "l_quantity")
          .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
            "l_quantity"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity
        FROM lineitem
        WHERE (l_returnflag = 'A' AND l_quantity > 30)
           OR (l_returnflag = 'N' AND NOT (l_linestatus = 'F'))
        ORDER BY l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity""")),

    Q(
      "filter_in_between_like",
      (s, dir) =>
        Tables.orders(s, dir)
          .filter(
            col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
              col("o_totalprice").between(100000.0, 400000.0) &&
              col("o_orderpriority").like("%URGENT%"))
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .orderBy("o_orderkey"),
      oracle = Some("""
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND o_totalprice BETWEEN 100000.0 AND 400000.0
          AND o_orderpriority LIKE '%URGENT%'
        ORDER BY o_orderkey""")),

    // Null semantics over derived nullable columns: IS NULL and the
    // null-safe equality operator (<=> / IS NOT DISTINCT FROM).
    Q(
      "filter_null_semantics",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .withColumn("flag_a", nullif(col("l_returnflag"), lit("N")))
          .withColumn("stat_o", nullif(col("l_linestatus"), lit("O")))
          .filter(col("l_quantity") > 45)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("flag_a"),
            col("stat_o"),
            (col("flag_a") <=> col("stat_o")).as("same_nullsafe"),
            col("flag_a").isNull.as("flag_is_null"))
          .orderBy(asc_nulls_first("flag_a"), asc_nulls_first("stat_o"),
            asc("l_orderkey"), asc("l_linenumber")),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber,
               nullif(l_returnflag, 'N') AS flag_a,
               nullif(l_linestatus, 'O') AS stat_o,
               nullif(l_returnflag, 'N') IS NOT DISTINCT FROM nullif(l_linestatus, 'O') AS same_nullsafe,
               nullif(l_returnflag, 'N') IS NULL AS flag_is_null
        FROM lineitem
        WHERE l_quantity > 45
        ORDER BY flag_a NULLS FIRST, stat_o NULLS FIRST, l_orderkey, l_linenumber""")),

    Q(
      "sort_global",
      (s, dir) =>
        Tables.orders(s, dir)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .orderBy(asc("o_orderstatus"), desc_nulls_last("o_totalprice"),
            asc("o_orderkey")),
      oracle = Some("""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        ORDER BY o_orderstatus ASC, o_totalprice DESC NULLS LAST, o_orderkey ASC""")),

    // Deterministic hash sampling — the reproducible-subset primitive a
    // training pipeline needs (the same 10% sample on every run, cluster,
    // and engine; Spark's native .sample is seed-dependent on partitioning).
    // Knuth multiplicative hashing over the row key with exact 64-bit
    // integer arithmetic, expressible identically in any engine. The
    // predicate evaluates inside the scan's codegen stage before any
    // shuffle (only IsNotNull reaches PushedFilters — a uniform hash
    // cannot use row-group stats, inherent to hash sampling, not a plan
    // defect), and column pruning still applies.
    Q(
      "filter_sample_hash",
      (s, dir) =>
        Tables.events(s, dir)
          .filter(
            pmod(col("event_id") * lit(2654435761L), lit(4294967296L)) % 100 < 10)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_sampled"),
            round(sum("value"), 4).as("sum_value"),
            min("event_id").as("min_id"), max("event_id").as("max_id"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, count(*) AS n_sampled,
               round(sum(value), 4) AS sum_value,
               min(event_id) AS min_id, max(event_id) AS max_id
        FROM events
        WHERE ((event_id * 2654435761) % 4294967296) % 100 < 10
        GROUP BY event_type ORDER BY event_type""")),

    // Global top-k: planned as TakeOrderedAndProject (each partition keeps
    // its local top 100, driver merges) — no global sort even at 100 TB.
    Q(
      "limit_topk",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy(desc("l_extendedprice"), asc("l_orderkey"),
            asc("l_linenumber"))
          .limit(100),
      // l_extendedprice is continuous, so rows tied on the full sort key are
      // identical in all three output columns — the LIMIT cut is stable.
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        LIMIT 100""")),

    Q(
      "set_union_all",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select("event_id", "event_type", "value")
        e.filter(col("event_type") === "click")
          .unionByName(e.filter(col("value") > 15.0))
          .orderBy("event_id", "event_type")
      },
      oracle = Some("""
        SELECT event_id, event_type, value FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT event_id, event_type, value FROM events WHERE value > 15.0
        ORDER BY event_id, event_type""")),

    Q(
      "set_union_distinct",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select("event_id", "event_type", "value")
        e.filter(col("event_type") === "click")
          .union(e.filter(col("value") > 15.0))
          .distinct()
          .orderBy("event_id", "event_type")
      },
      oracle = Some("""
        SELECT event_id, event_type, value FROM events WHERE event_type = 'click'
        UNION
        SELECT event_id, event_type, value FROM events WHERE value > 15.0
        ORDER BY event_id, event_type""")),

    Q(
      "set_intersect",
      (s, dir) => {
        val e = Tables.events(s, dir)
        e.filter(col("event_type") === "click").select("user_id")
          .intersect(
            e.filter(col("event_type") === "purchase").select("user_id"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
        ORDER BY user_id""")),

    Q(
      "set_except",
      (s, dir) => {
        // value > 90 keeps both sides proper subsets of the user base, so
        // the difference is non-empty at every scale factor (an EXCEPT
        // that always returns zero rows proves nothing).
        val e = Tables.events(s, dir)
        e.filter(col("event_type") === "click" && col("value") > 90)
          .select("user_id")
          .except(
            e.filter(col("event_type") === "error" && col("value") > 90)
              .select("user_id"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id FROM events WHERE event_type = 'click' AND value > 90
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'error' AND value > 90
        ORDER BY user_id""")),

    // The SQL front door: a TPC-H-Q3-shaped query submitted as ONE SQL
    // string through spark.sql over registered temp views — proving the
    // engine's full text-to-plan path (parser → analyzer → Catalyst →
    // Tungsten), not just the DataFrame DSL. Revenue goes through exact
    // decimal per the agg_group rounding rule; the top-10 cut orders by
    // the ROUNDED value with an orderkey pin.
    Q(
      "sql_query_surface",
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("g_customer")
        Tables.orders(s, dir).createOrReplaceTempView("g_orders")
        Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
        s.sql("""
          SELECT l_orderkey,
                 CAST(o_orderdate AS DATE) AS order_date,
                 CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                   (1 - CAST(l_discount AS DECIMAL(4,2)))), 4) AS DOUBLE)
                   AS revenue
          FROM g_customer
          JOIN g_orders ON c_custkey = o_custkey
          JOIN g_lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
            AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
          GROUP BY l_orderkey, o_orderdate
          ORDER BY revenue DESC, l_orderkey
          LIMIT 10""")
      },
      oracle = Some("""
        SELECT l_orderkey,
               CAST(o_orderdate AS DATE) AS order_date,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (1 - CAST(l_discount AS DECIMAL(4,2)))), 4) AS DOUBLE)
                 AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10""")),

    // The SQL PIVOT clause — the front-door form of agg_pivot's
    // DataFrame .pivot(): per user cohort, event counts rotated into
    // one column per type, with the empty-cell null/zero divergence
    // pinned (Spark PIVOT emits NULL for a combination with no rows,
    // a conditional-count oracle emits 0 — the outer COALESCE is the
    // portability contract and the thing a migration guide must say).
    Q(
      "sql_pivot_surface",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("g_ev_pivot")
        s.sql("""
          SELECT cohort,
                 coalesce(click, 0) AS click, coalesce(view, 0) AS view,
                 coalesce(purchase, 0) AS purchase,
                 coalesce(signup, 0) AS signup,
                 coalesce(error, 0) AS error
          FROM (SELECT user_id % 10 AS cohort, event_type
                FROM g_ev_pivot)
          PIVOT (count(*) FOR event_type IN
            ('click' AS click, 'view' AS view, 'purchase' AS purchase,
             'signup' AS signup, 'error' AS error))
          ORDER BY cohort""")
      },
      oracle = Some("""
        SELECT user_id % 10 AS cohort,
               count(*) FILTER (WHERE event_type = 'click') AS click,
               count(*) FILTER (WHERE event_type = 'view') AS view,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'signup') AS signup,
               count(*) FILTER (WHERE event_type = 'error') AS error
        FROM events GROUP BY 1 ORDER BY cohort""")),

    // Spark 4 SQL parameterization surface, all four mechanisms in one
    // round trip: a NAMED PARAMETER bind (:qmin), the IDENTIFIER clause
    // resolving a table name ARRIVING AS A PARAMETER (:tbl — the
    // SQL-injection-safe dynamic identifier), a SESSION VARIABLE
    // (DECLARE/SET VARIABLE g_qty_floor, referenced bare in the WHERE),
    // and EXECUTE IMMEDIATE running the final statement from a string.
    // The two thresholds deliberately disagree (param 40, variable 45)
    // so the result proves BOTH bind paths reached the plan — the
    // stricter one wins. The oracle inlines the effective constants:
    // parameterization is a FRONT-DOOR surface, the plan underneath is
    // the same pruned scan + aggregate.
    Q(
      "sql_parameterized",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("g_li_param")
        s.sql("DECLARE OR REPLACE VARIABLE g_qty_floor BIGINT DEFAULT 0")
        s.sql("SET VARIABLE g_qty_floor = 45")
        s.sql("""
          SELECT l_returnflag AS flag, count(*) AS n,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          FROM IDENTIFIER(:tbl)
          WHERE l_quantity >= :qmin AND l_quantity >= g_qty_floor
          GROUP BY l_returnflag""",
          Map("tbl" -> "g_li_param", "qmin" -> 40))
          .createOrReplaceTempView("g_param_base")
        s.sql("EXECUTE IMMEDIATE " +
          "'SELECT flag, n, qty FROM g_param_base ORDER BY flag'")
      },
      oracle = Some("""
        SELECT l_returnflag AS flag, count(*) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem
        WHERE l_quantity >= 40 AND l_quantity >= 45
        GROUP BY l_returnflag ORDER BY flag""")),

    // Generator / table-valued-function surface through the SQL front
    // door: LATERAL VIEW posexplode with the two-alias form, stack()
    // unpivoting computed columns, and a table function (range) in FROM
    // position — the Hive-compatible generator syntax a SQL user reaches
    // for before the DataFrame API. Catalyst plans every leg as Generate
    // (no per-row subquery); the oracle replays posexplode positionally
    // via generate_series and stack as its UNION ALL definition.
    Q(
      "sql_tvf_lateral",
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("g_documents")
        s.sql("""
          SELECT kind, CAST(sum(v) AS BIGINT) AS total, count(*) AS n
          FROM (
            SELECT kind, v FROM (
              SELECT doc_id, pos, w FROM g_documents
              LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w
              WHERE doc_id < 20) x
            LATERAL VIEW stack(2, 'wordlen', length(w),
                                  'position', pos) s AS kind, v
            UNION ALL
            SELECT 'range_mass' AS kind, CAST(id AS INT) AS v
            FROM range(100))
          GROUP BY kind ORDER BY kind""")
      },
      oracle = Some("""
        WITH words AS (
          SELECT doc_id, i - 1 AS pos,
                 string_split(text, ' ')[CAST(i AS INT)] AS w
          FROM (SELECT doc_id, text,
                       unnest(generate_series(
                         1, len(string_split(text, ' ')))) AS i
                FROM documents WHERE doc_id < 20)),
        st AS (
          SELECT 'wordlen' AS kind, CAST(len(w) AS BIGINT) AS v
          FROM words
          UNION ALL SELECT 'position', CAST(pos AS BIGINT) FROM words
          UNION ALL SELECT 'range_mass', CAST(i AS BIGINT)
          FROM generate_series(0, 99) r(i))
        SELECT kind, CAST(sum(v) AS BIGINT) AS total, count(*) AS n
        FROM st GROUP BY kind ORDER BY kind""")),

    // Correlated subqueries through the SQL front door: EXISTS / NOT
    // EXISTS / scalar subquery, all correlated on the outer customer —
    // exercising Catalyst's decorrelation rewrites (§4 row "subquery
    // decorrelation"): EXISTS becomes a semi join, NOT EXISTS an anti
    // join, the scalar aggregate a left outer join — no per-row
    // re-execution anywhere.
    Q(
      "sql_exists_subquery",
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("g_customer")
        Tables.orders(s, dir).createOrReplaceTempView("g_orders")
        s.sql("""
          SELECT c_custkey,
                 EXISTS (SELECT 1 FROM g_orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 300000.0) AS has_big_order,
                 NOT EXISTS (SELECT 1 FROM g_orders o
                             WHERE o.o_custkey = c.c_custkey) AS never_ordered,
                 (SELECT count(*) FROM g_orders o
                  WHERE o.o_custkey = c.c_custkey) AS n_orders
          FROM g_customer c
          ORDER BY c_custkey""")
      },
      oracle = Some("""
        SELECT c_custkey,
               EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 300000.0) AS has_big_order,
               NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey) AS never_ordered,
               (SELECT count(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer c
        ORDER BY c_custkey""")),

    // WITH RECURSIVE through the SQL front door (Spark 4's UnionLoopExec):
    // an org-chart reachability rollup over a synthetic supplier
    // hierarchy (parent = key div 2, root = 1 — a binary tree, so depth
    // is log-bounded and the loop terminates without a level cap). Each
    // iteration is one join of the new frontier against supplier — the
    // same O(edges)-per-round shape as api.Graph.multiSourceBfs, but
    // planned entirely by the engine from SQL text. DuckDB replays the
    // identical recursion (// is its integer division).
    Q(
      "sql_recursive_cte",
      (s, dir) => {
        Tables.supplier(s, dir).createOrReplaceTempView("g_supplier")
        s.sql("""
          WITH RECURSIVE chain AS (
            SELECT s_suppkey, 0 AS depth FROM g_supplier WHERE s_suppkey = 1
            UNION ALL
            SELECT s.s_suppkey, c.depth + 1
            FROM g_supplier s JOIN chain c
              ON s.s_suppkey DIV 2 = c.s_suppkey)
          SELECT depth, count(*) AS n_nodes,
                 sum(s_suppkey) AS key_checksum
          FROM chain GROUP BY depth ORDER BY depth""")
      },
      oracle = Some("""
        WITH RECURSIVE chain AS (
          SELECT s_suppkey, 0 AS depth FROM supplier WHERE s_suppkey = 1
          UNION ALL
          SELECT s.s_suppkey, c.depth + 1
          FROM supplier s JOIN chain c ON s.s_suppkey // 2 = c.s_suppkey)
        SELECT depth, count(*) AS n_nodes,
               CAST(sum(s_suppkey) AS BIGINT) AS key_checksum
        FROM chain GROUP BY depth ORDER BY depth"""))
  ) ++ Seq(
    // SQL join hints — the knob a user turns when statistics mislead the
    // planner: the SAME aggregate runs once under /*+ BROADCAST */ and
    // once under /*+ SHUFFLE_MERGE */, and the union proves the contract
    // that hints steer the PHYSICAL join, never the result (PlanShapeSpec
    // asserts the BroadcastHashJoin/SortMergeJoin split; identical value
    // rows here assert the semantics). Cents-exact revenue so the two
    // plans' different addition orders cannot differ in the last bit.
    Q(
      "sql_join_hints",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("gh_orders")
        Tables.customer(s, dir).createOrReplaceTempView("gh_customer")
        def q(hint: String, label: String) = s.sql(s"""
          SELECT /*+ $hint(c) */ '$label' AS hint, c.c_mktsegment,
                 count(*) AS n,
                 sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                   AS rev_cents
          FROM gh_orders o JOIN gh_customer c
            ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment""")
        q("BROADCAST", "broadcast")
          .unionByName(q("SHUFFLE_MERGE", "merge"))
          .orderBy("hint", "c_mktsegment")
      },
      oracle = Some("""
        WITH base AS (
          SELECT c.c_mktsegment, count(*) AS n,
                 CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS rev_cents
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment)
        SELECT 'broadcast' AS hint, c_mktsegment, n, rev_cents FROM base
        UNION ALL
        SELECT 'merge' AS hint, c_mktsegment, n, rev_cents FROM base
        ORDER BY hint, c_mktsegment""")),

    // Catalog/DDL surface — a real ingestion service REGISTERS its corpus
    // as named tables and resolves queries by name, not by path. EXTERNAL
    // registration (`CREATE TABLE ... USING parquet LOCATION`) is a
    // metadata-only commit: zero data copied, the files stay where the
    // ingest landed them, and DROP TABLE un-registers without deleting a
    // byte (CatalogSpec pins both properties plus listTables/listColumns
    // introspection). The query itself then runs through the catalog's
    // name resolution — parser → analyzer (catalog lookup) → Catalyst —
    // and must equal the same join over direct path reads, which is what
    // the oracle checks. Decimal-exact balance sum so the two engines'
    // addition orders cannot differ in the last bit. At 100 TB the
    // catalog IS the product surface: external-location registration is
    // how a lakehouse mounts petabytes without moving them.
    Q(
      "sql_catalog_ddl",
      (s, dir) => {
        // One database per scale dir (dir-keyed name) so sf0.001 smoke
        // tests and sf0.01 verify runs never collide in the shared
        // session catalog.
        val db = "graft_cat_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
        Seq("customer", "nation", "region").foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $db.$t")
          s.sql(
            s"CREATE TABLE $db.$t USING parquet LOCATION '$dir/$t.parquet'")
        }
        s.sql(s"""
          SELECT r.r_name AS region_name,
                 count(*) AS n_customers,
                 CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(14,2))), 2)
                   AS DOUBLE) AS sum_bal
          FROM $db.customer c
          JOIN $db.nation n ON c.c_nationkey = n.n_nationkey
          JOIN $db.region r ON n.n_regionkey = r.r_regionkey
          GROUP BY r.r_name ORDER BY r.r_name""")
      },
      oracle = Some("""
        SELECT r.r_name AS region_name,
               count(*) AS n_customers,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(14,2))), 2)
                 AS DOUBLE) AS sum_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name"""))
  )
}
