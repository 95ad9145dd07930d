package graft.operators

import graft.{Cut, Q, QueryModule, Scratch, Stored, Tables, Warm}
import graft.api.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the documents/events corpus:
  * context-window chunking, concat-split and next-fit sequence packing,
  * benchmark-contamination checks, deterministic stratified sampling,
  * mixture construction, and batch sessionization. Registry queries are
  * thin compositions over graft.api.Pipeline; every DuckDB-expressible
  * shape carries an exact oracle (the hash/sampling arithmetic is plain
  * BIGINT math precisely so both engines select identical rows).
  */
object Pipeline extends QueryModule {

  /** Urgent co-purchase pair stream (parts co-occurring in a 1-URGENT
    * order, one row per co-occurrence with multiplicity), materialized
    * once per (session, dir): FOUR graph keys — jaccard, triangles,
    * bfs, sssp — derive from this same edge stream, so its construction
    * is an amortized layout decision, the same class as LayoutCache's
    * partitioned copies and Similarity.warmIndexes (build once, query
    * many). Keyed by session, not dir alone, for the block-manager
    * lifetime reason documented at [[graft.Warm]].
    */
  private def urgentCoPurchasePairs(s: SparkSession, dir: String): DataFrame =
    Warm.frame("urgent_copurchase_pairs", s, dir)({
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey")
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_partkey")
      li.as("a")
        .join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    }).df

  /** Shared oracle CTE chain replaying graph_random_walk's exact
    * trajectories (adjacency → 5 lowest-id seeds → 4 md5-argmin hops →
    * the unioned `walk(seed, step, node)` frame). Composed by both the
    * walk key and graph_walk_pairs so the two oracles cannot drift.
    */
  private lazy val walkOracleCtes: String = {
    def hop(k: Int) = s"""
        s$k AS (
          SELECT seed, node FROM (
            SELECT w.seed, adj.m AS node,
                   row_number() OVER (PARTITION BY w.seed ORDER BY
                     ('0x' || substring(md5(w.seed || ':$k:' || adj.m),
                        1, 15))::BIGINT, adj.m) AS rn
            FROM s${k - 1} w JOIN adj ON adj.n = w.node) WHERE rn = 1)"""
    s"""li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj AS (SELECT u AS n, v AS m FROM e
                UNION ALL SELECT v AS n, u AS m FROM e),
        s0 AS (
          SELECT n AS seed, n AS node
          FROM (SELECT DISTINCT n FROM adj ORDER BY n LIMIT 5)),
        ${(1 to 4).map(hop).mkString(",")},
        walk AS (
          SELECT seed, 0 AS step, node FROM s0
          UNION ALL SELECT seed, 1, node FROM s1
          UNION ALL SELECT seed, 2, node FROM s2
          UNION ALL SELECT seed, 3, node FROM s3
          UNION ALL SELECT seed, 4, node FROM s4)"""
  }

  /** The urgent co-purchase graph as a canonical [[Graph.Edges]] (the
    * pair stream is u < v by construction, so canonicalizing only casts
    * and dedups it), built once per (session, dir). Most graph keys
    * consume exactly this set — computing the distinct once per
    * (session, dir) instead of once per key removes a full pair-stream
    * shuffle from each (the index-build-once/query-many lifecycle the
    * graph family already follows for the raw pair stream).
    */
  private def urgentCoPurchaseEdges(s: SparkSession, dir: String): Graph.Edges =
    Warm.session("urgent_copurchase_edges", s, dir)(
      Graph.undirected(urgentCoPurchasePairs(s, dir), col("u"), col("v")))

  /** The co-purchase [[Graph.adjacency]] (n, m) — both directions of
    * the canonical edge set, hash-partitioned on n (the coordinate every
    * frontier/degree consumer joins or groups on) and cut once per
    * (session, dir). r13 verdict task 7: betweenness, random-walk,
    * ANF, and assortativity each re-derived and re-checkpointed this
    * same frame per key; the build-once/query-many lifecycle the raw
    * pair stream already follows applies one level up. graph_bfs and
    * graph_closeness do not read it: [[Graph.bfs]] and
    * [[Graph.multiSourceBfs]] derive and cut their own copy.
    */
  private def urgentCoPurchaseAdj(s: SparkSession, dir: String): Cut =
    Warm.frame("urgent_copurchase_adj", s, dir)(
      Graph.adjacency(urgentCoPurchaseEdges(s, dir)).repartition(col("n")))

  /** graph_pagerank's bipartite part↔supplier graph as a
    * [[Graph.RankEdges]] (numeric node encoding: even = part, odd =
    * supplier), built once per (session, dir) — the same shared-index
    * lifecycle as the co-purchase edge sets, so the officially-priced key
    * measures the fixpoint, not the edge layout it shares with every
    * rerun.
    */
  private def pagerankEdges(s: SparkSession, dir: String): Graph.RankEdges =
    Warm.session("pagerank_edges", s, dir)(
      Graph.rankEdges(Tables.lineitem(s, dir),
        col("l_partkey") * 2, col("l_suppkey") * 2 + 1, undirected = true))

  /** The customer→part purchase graph feeding graph_hits as a
    * [[Graph.Bipartite]], built once per (session, dir), the same
    * build-once/query-many lifecycle as the co-purchase edge set.
    */
  private def purchaseEdges(s: SparkSession, dir: String): Graph.Bipartite =
    Warm.session("purchase_edges", s, dir)(
      Graph.bipartite(
        Tables.lineitem(s, dir).join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey")),
        col("o_custkey"), col("l_partkey")))

  /** Bench-warmup hook: build the shared co-purchase edge stream ahead
    * of the timed graph keys (the index-build-once/query-many
    * lifecycle).
    */
  def warmGraph(s: SparkSession, dir: String): Unit = {
    urgentCoPurchasePairs(s, dir)
    urgentCoPurchaseEdges(s, dir)
    urgentCoPurchaseAdj(s, dir)
    pagerankEdges(s, dir)
    purchaseEdges(s, dir)
    ()
  }

  /** Unrolled fixed-point PageRank rounds for the graph_pagerank oracle —
    * the DuckDB replay of api.Graph.pageRank over the bipartite
    * part↔supplier graph (undirected ⇒ no dangling mass). Every round is
    * BIGINT floor arithmetic on ranks scaled by 1e15 (share = rank //
    * deg, damp = (85·Σshares) // 100, teleport = 15·S // (100·n)), so
    * summation order cannot move a single unit and the 5-round fixpoint
    * hash-matches across engines. Emits pr_r0 .. pr_r<rounds>, each
    * (id, deg, rank).
    */
  /** Round count shared by graph_pagerank's engine call, its tolerance
    * arithmetic, and the oracle CTE chain + tolerance literal — one
    * binding so a round-count change can't leave any of the four stale.
    */
  private val PagerankRounds = 5

  private def pagerankCtes(rounds: Int): String = {
    val S = "CAST(1000000000000000 AS BIGINT)"
    val head = s"""pr_re AS (
          SELECT DISTINCT CAST(l_partkey * 2 AS BIGINT) AS src,
                          CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
          FROM lineitem),
        pr_e AS (
          SELECT src, dst FROM pr_re
          UNION
          SELECT dst AS src, src AS dst FROM pr_re),
        pr_deg AS (SELECT src AS id, count(*) AS deg FROM pr_e GROUP BY 1),
        pr_nn AS (SELECT count(*) AS n FROM pr_deg),
        pr_r0 AS (
          SELECT id, deg, $S // n AS rank
          FROM pr_deg CROSS JOIN pr_nn)"""
    val rnds = (1 to rounds).map { r =>
      s"""
        pr_sh$r AS (SELECT id, rank // deg AS share FROM pr_r${r - 1}),
        pr_ib$r AS (
          SELECT e.dst AS id, CAST(sum(s.share) AS BIGINT) AS ins
          FROM pr_e e JOIN pr_sh$r s ON s.id = e.src GROUP BY 1),
        pr_r$r AS (
          SELECT d.id, d.deg,
                 (15 * $S) // (100 * nn.n)
                 + (85 * coalesce(i.ins, 0)) // 100 AS rank
          FROM pr_deg d CROSS JOIN pr_nn nn
          LEFT JOIN pr_ib$r i ON i.id = d.id)"""
    }
    (head +: rnds).mkString(",")
  }

  /** Round count shared by graph_hits' engine call and its unrolled
    * oracle CTE chain (the PagerankRounds doctrine).
    */
  private val HitsRounds = 4

  /** Unrolled fixed-point HITS rounds for the graph_hits oracle — the
    * DuckDB replay of api.Graph.hits over the customer→part purchase
    * bipartite. Each half-round is an inbound integer sum (HUGEINT,
    * mirroring the engine's decimal(38,0)) renormalized to scale 1e15
    * by BIGINT floor division, so summation order cannot move a unit.
    * Emits ht_h0 and ht_a1/ht_h1 .. ht_a<rounds>/ht_h<rounds>.
    */
  private def hitsCtes(rounds: Int): String = {
    val S = "CAST(1000000000000000 AS BIGINT)"
    // Every multiply-referenced CTE is MATERIALIZED: the raw frames
    // feed both their total and their normalization, and an INLINED
    // reference would re-evaluate the whole upstream chain — 2 refs ×
    // 8 half-rounds = 256× the base work (observed: the un-hinted
    // form ran minutes; materialized, sub-second).
    val head = s"""ht_e AS MATERIALIZED (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
                          CAST(l_partkey AS BIGINT) AS p
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        ht_nc AS (SELECT count(DISTINCT c) AS nc FROM ht_e),
        ht_h0 AS MATERIALIZED (
          SELECT DISTINCT c, $S // nc AS h
          FROM ht_e CROSS JOIN ht_nc)"""
    val rnds = (1 to rounds).map { r =>
      s"""
        ht_ar$r AS MATERIALIZED (
          SELECT p, sum(h.h::HUGEINT) AS raw
          FROM ht_e e JOIN ht_h${r - 1} h USING (c) GROUP BY 1),
        ht_a$r AS MATERIALIZED (
          SELECT p, CAST((raw * $S)
                 // (SELECT sum(raw) FROM ht_ar$r) AS BIGINT) AS a
          FROM ht_ar$r),
        ht_hr$r AS MATERIALIZED (
          SELECT c, sum(a.a::HUGEINT) AS raw
          FROM ht_e e JOIN ht_a$r a USING (p) GROUP BY 1),
        ht_h$r AS MATERIALIZED (
          SELECT c, CAST((raw * $S)
                 // (SELECT sum(raw) FROM ht_hr$r) AS BIGINT) AS h
          FROM ht_hr$r)"""
    }
    (head +: rnds).mkString(",")
  }

  /** Round count shared by graph_label_propagation's engine call and its
    * unrolled oracle CTE chain (the PagerankRounds doctrine).
    */
  private val LpaRounds = 3

  /** Unrolled synchronous label-propagation rounds for the
    * graph_label_propagation oracle — expects an `adj` CTE with the
    * symmetric (n, m) adjacency in scope. Each round is the windowed
    * argmax of neighbor-label counts (ties to the smallest label),
    * exactly api.Graph.labelPropagation's update. Emits lp_r0 ..
    * lp_r<rounds>, each (n, label).
    */
  private def lpaCtes(rounds: Int): String = {
    val head = """lp_r0 AS (SELECT DISTINCT n, n AS label FROM adj)"""
    val steps = (1 to rounds).map { r =>
      s"""lp_r$r AS (
          SELECT n, label FROM (
            SELECT a.n AS n, l.label AS label,
                   row_number() OVER (PARTITION BY a.n
                     ORDER BY count(*) DESC, l.label) AS rk
            FROM adj a JOIN lp_r${r - 1} l ON l.n = a.m
            GROUP BY a.n, l.label) WHERE rk = 1)"""
    }
    (head +: steps).mkString(",\n        ")
  }

  /** k and round count shared by graph_kcore's engine call and its
    * unrolled oracle chain (the PagerankRounds doctrine).
    */
  // k chosen against the corpus degree distribution (mean urgent
  // co-purchase degree ~23 at sf0.01): k=16 keeps the peel moving every
  // round (1995 → 1503 → 1343 → 1247 → 1180 nodes), where k=3 would
  // freeze after one sweep — a vacuous trajectory (NOTES vacuous-demo
  // lesson).
  private val KcoreK = 16
  private val KcoreRounds = 4

  /** Unrolled k-core peel rounds for the graph_kcore oracle — expects an
    * `e` CTE with the canonical (u, v) edge set in scope. Each round:
    * degree census of the surviving subgraph, keep nodes with d >= k,
    * keep edges whose BOTH endpoints survive — exactly
    * api.Graph.kCorePeel's sweep. Emits kc_e0 .. kc_e<rounds>.
    */
  private def kcoreCtes(k: Int, rounds: Int): String = {
    val head = """kc_e0 AS (SELECT u, v FROM e)"""
    val steps = (1 to rounds).map { r =>
      s"""kc_d$r AS (
          SELECT n, count(*) AS d FROM (
            SELECT u AS n FROM kc_e${r - 1}
            UNION ALL SELECT v AS n FROM kc_e${r - 1}) GROUP BY n),
        kc_k$r AS (SELECT n FROM kc_d$r WHERE d >= $k),
        kc_e$r AS (
          SELECT u, v FROM kc_e${r - 1}
          WHERE u IN (SELECT n FROM kc_k$r)
            AND v IN (SELECT n FROM kc_k$r))"""
    }
    (head +: steps).mkString(",\n        ")
  }

  /** Per-round (round, n_nodes, n_edges) census union over kc_e0..kc_eR
    * (each round's endpoint frame doubled, so n_edges = count // 2).
    */
  private def kcoreCensus(rounds: Int): String =
    (0 to rounds).map { r =>
      s"""SELECT $r AS round, count(DISTINCT n) AS n_nodes,
            count(*) // 2 AS n_edges
          FROM (SELECT u AS n FROM kc_e$r
                UNION ALL SELECT v AS n FROM kc_e$r)"""
    }.mkString("\n          UNION ALL\n          ")

  /** The recursive-CTE replay of packFirstFitDecreasing (budget 512,
    * 4 shards, largest-first with id tie-break): state is the whole bin
    * load LIST; list_position of the first fitting bin is exactly the
    * Scala indexWhere. ONE definition shared by the pack_ffd and
    * pipeline_write_shards oracles so the replay can never drift
    * between them (the dedup_minhash_portable interpolation rule).
    */
  private val ffdReplaySql: String = """        WITH RECURSIVE t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tc,
                 CAST(doc_id % 4 AS INT) AS shard
          FROM documents),
        n AS (
          SELECT *, row_number() OVER (PARTITION BY source, shard
                                       ORDER BY tc DESC, doc_id) AS rn
          FROM t),
        p AS (
          SELECT doc_id, source, shard, rn, tc,
                 CAST(0 AS BIGINT) AS bin_id, tc AS load_after,
                 [tc] AS loads
          FROM n WHERE rn = 1
          UNION ALL
          SELECT n.doc_id, n.source, n.shard, n.rn, n.tc,
                 CAST(CASE WHEN coalesce(list_position(
                        list_transform(p.loads, l -> l + n.tc <= 512),
                        true), 0) = 0
                      THEN len(p.loads)
                      ELSE list_position(
                        list_transform(p.loads, l -> l + n.tc <= 512),
                        true) - 1
                      END AS BIGINT),
                 CASE WHEN coalesce(list_position(
                        list_transform(p.loads, l -> l + n.tc <= 512),
                        true), 0) = 0
                      THEN n.tc
                      ELSE p.loads[list_position(
                        list_transform(p.loads, l -> l + n.tc <= 512),
                        true)] + n.tc
                      END,
                 CASE WHEN coalesce(list_position(
                        list_transform(p.loads, l -> l + n.tc <= 512),
                        true), 0) = 0
                      THEN list_append(p.loads, n.tc)
                      ELSE list_transform(
                        generate_series(1, CAST(len(p.loads) AS INT)),
                        i -> CASE WHEN i = list_position(
                               list_transform(p.loads,
                                 l -> l + n.tc <= 512), true)
                             THEN p.loads[i] + n.tc ELSE p.loads[i] END)
                      END
          FROM n JOIN p ON n.source = p.source AND n.shard = p.shard
                       AND n.rn = p.rn + 1)"""

  def all: Seq[Q] = Seq(
    // Context-window chunking with stride/overlap — the canonical LLM
    // preprocessing cut. Pure map-side column math (sequence + explode):
    // no shuffle at any scale; row growth is bounded by ~n_tokens/stride.
    Q(
      "text_chunk_windows",
      (s, dir) =>
        graft.api.Pipeline.chunkWindows(
          Tables.documents(s, dir), col("doc_id"), col("text"),
          window = 64, stride = 48)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id", "chunk_id"),
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents),
        c AS (
          SELECT doc_id, toks, n,
                 CASE WHEN n <= 64 THEN 1
                      ELSE (n - 64 + 47) // 48 + 1 END AS nch
          FROM t),
        e AS (
          SELECT doc_id, toks, n,
                 unnest(generate_series(0, nch - 1)) AS chunk_id
          FROM c)
        SELECT doc_id, chunk_id, chunk_id * 48 AS chunk_start,
               least(n - chunk_id * 48, 64) AS chunk_len,
               toks[CAST(chunk_id * 48 + 1 AS BIGINT)] AS first_tok,
               toks[CAST(least(chunk_id * 48 + 64, n) AS BIGINT)] AS last_tok
        FROM e ORDER BY doc_id, chunk_id""")),

    // Benchmark contamination: corpus docs sharing distinct token bigrams
    // with a held-out "benchmark" slice (doc_id % 97 = 0), scored by the
    // fraction of the benchmark doc's grams covered. Inverted-index join
    // on the gram — candidates from shared grams, never all-pairs. The
    // synthetic corpus has a dense bigram space, so n=2 with a 0.15 floor
    // yields a real (non-empty, non-everything) pair set; production runs
    // use n=8+ where any hit is damning.
    Q(
      "contamination_ngram",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.api.Pipeline.contaminationNgram(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("doc_id"), col("text"),
          n = 2, minOverlap = 0.15)
          .orderBy("corpus_id", "bench_id")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM toks WHERE len(t) >= 2),
        grams AS (
          SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS gram FROM pos),
        bench AS (
          SELECT doc_id AS bench_id, gram FROM grams WHERE doc_id % 97 = 0),
        corp AS (
          SELECT doc_id AS corpus_id, gram FROM grams WHERE doc_id % 97 <> 0),
        totals AS (
          SELECT bench_id, count(*) AS bench_ngrams FROM bench GROUP BY 1),
        hits AS (
          SELECT corpus_id, bench_id, count(*) AS shared_ngrams
          FROM corp JOIN bench USING (gram) GROUP BY 1, 2)
        SELECT corpus_id, bench_id, shared_ngrams, bench_ngrams,
               round(shared_ngrams * 1.0 / bench_ngrams, 4) AS overlap_frac
        FROM hits JOIN totals USING (bench_id)
        WHERE round(shared_ngrams * 1.0 / bench_ngrams, 4) >= 0.15
        ORDER BY corpus_id, bench_id""")),

    // Gap-based batch sessionization (gaps-and-islands): 30-min
    // inactivity splits a user's events into numbered sessions, then
    // per-session stats. One shuffle on user_id; all else window math.
    // Both engines compare µs-truncated BIGINT epochs, so the gap
    // predicate is integer-exact.
    Q(
      "sessionize_gap",
      (s, dir) =>
        graft.api.Pipeline.sessionize(
          Tables.events(s, dir), col("user_id"), col("ts"), col("event_id"),
          gapMinutes = 30)
          .groupBy(col("sess_key").as("user_id"), col("session_seq"))
          .agg(count(lit(1)).as("n_events"),
            timestamp_micros(min("sess_us")).cast("timestamp_ntz")
              .as("t_start"),
            timestamp_micros(max("sess_us")).cast("timestamp_ntz")
              .as("t_end"))
          .orderBy("user_id", "session_seq"),
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
                 CAST(sum(is_new) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS session_seq
          FROM flagged)
        SELECT user_id, session_seq, count(*) AS n_events,
               make_timestamp(min(us)) AS t_start,
               make_timestamp(max(us)) AS t_end
        FROM sessed GROUP BY 1, 2 ORDER BY user_id, session_seq""")),

    // Deterministic stratified sample: the Knuth multiplicative hash on
    // doc_id picks ~10% engine-independently (plain BIGINT arithmetic, no
    // seed exchange), and the per-stratum audit proves the rate holds in
    // every language. Selection is a pushed-down filter — no shuffle.
    Q(
      "sample_stratified",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val sampled = graft.api.Pipeline.stratifiedHashSample(
          docs, col("doc_id"), permille = 100)
        val totals = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
        sampled.groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"),
            sum("doc_id").as("id_checksum"))
          .join(totals, Seq("lang"), "right")
          .select(col("lang"),
            col("n_total"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
            coalesce(col("id_checksum"), lit(0L)).as("id_checksum"),
            round(coalesce(col("n_sampled"), lit(0L)) /
              col("n_total").cast("double"), 4).as("rate"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH s AS (
          SELECT lang, doc_id FROM documents
          WHERE (doc_id * 2654435761) % 1000 < 100),
        t AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1),
        a AS (SELECT lang, count(*) AS n_sampled,
                     CAST(sum(doc_id) AS BIGINT) AS id_checksum
              FROM s GROUP BY 1)
        SELECT lang, n_total,
               coalesce(n_sampled, CAST(0 AS BIGINT)) AS n_sampled,
               coalesce(id_checksum, CAST(0 AS BIGINT)) AS id_checksum,
               round(coalesce(n_sampled, 0) * 1.0 / n_total, 4) AS rate
        FROM t LEFT JOIN a USING (lang) ORDER BY lang""")),

    // Mixture-divergence audit: how far is the corpus's LANGUAGE
    // distribution from the uniform target recipe — the number a
    // multilingual-pretraining curator reads BEFORE reaching for
    // mix_weighted to fix it (the source axis is uniform by corpus
    // construction — auditing it would be the vacuous-demo trap; lang
    // is genuinely skewed, en carries 44%).
    // KL(p‖u) and total-variation distance, plus the worst source.
    // Exactness: KL = Σ p_s·ln(p_s/q_s) = (Σ n_s·lnq_s)/(N·1e6) — the
    // n_s weights stay INTEGER so the weighted sum is exact; each
    // lnq_s = round(ln(n_s·S/N)·1e6) is one double ln of an exact
    // rational (the text_zipf discipline). TV is pure integer
    // arithmetic until one final division. The source census is one
    // map-combined groupBy; everything downstream is |sources| rows.
    Q(
      "mix_kl_audit",
      (s, dir) => {
        val cen = Tables.documents(s, dir)
          .groupBy("lang").agg(count(lit(1)).as("n"))
        val tot = cen.agg(sum("n").as("nn"), count(lit(1)).as("srcs"))
        val k = cen.crossJoin(broadcast(tot))
          .withColumn("lnq",
            round(log(col("n") * col("srcs") / col("nn").cast("double"))
              * 1e6).cast("long"))
          .withColumn("absdiff",
            abs(col("n") * col("srcs") - col("nn")))
        val worst = k.orderBy(col("absdiff").desc, col("lang"))
          .limit(1).select(col("lang").as("worst_lang"),
            round(col("absdiff").cast("double") /
              (col("srcs") * col("nn")), 6).as("worst_gap"))
        k.groupBy("nn", "srcs")
          .agg(sum(col("n") * col("lnq")).as("wsum"),
            sum("absdiff").as("tvsum"))
          .crossJoin(broadcast(worst))
          .select(col("nn").as("n_docs"), col("srcs").as("n_langs"),
            round(col("wsum").cast("double") / col("nn") / 1e6, 6)
              .as("kl_uniform_nats"),
            round(col("tvsum").cast("double") /
              (lit(2) * col("srcs") * col("nn")), 6).as("tv_distance"),
            col("worst_lang"), col("worst_gap"))
      },
      oracle = Some("""
        WITH cen AS (
          SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS nn, count(*) AS srcs
          FROM cen),
        k AS (
          SELECT lang, n,
                 CAST(round(ln(n * srcs / CAST(nn AS DOUBLE)) * 1e6)
                   AS BIGINT) AS lnq,
                 abs(n * srcs - nn) AS absdiff, nn, srcs
          FROM cen CROSS JOIN tot),
        worst AS (
          SELECT lang AS worst_lang,
                 round(CAST(absdiff AS DOUBLE) / (srcs * nn), 6)
                   AS worst_gap
          FROM k ORDER BY absdiff DESC, lang LIMIT 1)
        SELECT nn AS n_docs, srcs AS n_langs,
               round(CAST(sum(n * lnq) AS DOUBLE) / any_value(nn) / 1e6,
                 6) AS kl_uniform_nats,
               round(CAST(sum(absdiff) AS DOUBLE)
                 / (2 * any_value(srcs) * any_value(nn)), 6)
                 AS tv_distance,
               any_value(worst_lang) AS worst_lang,
               any_value(worst_gap) AS worst_gap
        FROM k CROSS JOIN worst
        GROUP BY nn, srcs""")),

    // TIME-based train/valid/test split (days 0-19 / 20-24 / 25+
    // relative to the corpus start) — the split a forecasting or
    // next-event model MUST use (hash splits leak the future into
    // training), with the census time-splitting owes you in return:
    // per split, how many of its users already appear in an earlier
    // split (user-level leakage is GUARANTEED here — that's what
    // sample_users_coherent trades against; this key makes the
    // tradeoff measurable instead of implicit). Cutoffs derive from
    // min(day), so the split is a pure function of the data. Two
    // map-combined censuses + one broadcast of the per-split user
    // sets' earlier-split membership.
    Q(
      "sample_time_split",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            col("user_id"))
        val d0 = ev.agg(min("day").as("d0"))
        val tagged = ev.crossJoin(broadcast(d0))
          .withColumn("split",
            when(col("day") < col("d0") + 20, "1_train")
              .when(col("day") < col("d0") + 25, "2_valid")
              .otherwise("3_test"))
        val users = tagged.select("split", "user_id").distinct()
        val earlier = users.as("a").join(users.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("b.split") < col("a.split"), "left_semi")
          .groupBy(col("split")).agg(count(lit(1)).as("n_leaked_users"))
        tagged.groupBy("split")
          .agg(count(lit(1)).as("n_events"),
            countDistinct("user_id").as("n_users"))
          .join(earlier, Seq("split"), "left")
          .select(col("split"), col("n_events"), col("n_users"),
            coalesce(col("n_leaked_users"), lit(0L)).as("n_leaked_users"))
          .orderBy("split")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                 user_id
          FROM events),
        tagged AS (
          SELECT user_id,
                 CASE WHEN day < (SELECT min(day) FROM ev) + 20
                        THEN '1_train'
                      WHEN day < (SELECT min(day) FROM ev) + 25
                        THEN '2_valid'
                      ELSE '3_test' END AS split
          FROM ev),
        users AS (SELECT DISTINCT split, user_id FROM tagged),
        earlier AS (
          SELECT a.split, count(*) AS n_leaked_users
          FROM users a
          WHERE EXISTS (SELECT 1 FROM users b
                        WHERE b.user_id = a.user_id
                          AND b.split < a.split)
          GROUP BY 1)
        SELECT t.split, count(*) AS n_events,
               count(DISTINCT t.user_id) AS n_users,
               CAST(coalesce(any_value(e.n_leaked_users), 0) AS BIGINT)
                 AS n_leaked_users
        FROM tagged t LEFT JOIN earlier e ON e.split = t.split
        GROUP BY t.split ORDER BY t.split""")),

    // Neyman-optimal stratified allocation: budget n_h ∝ N_h·σ_h — the
    // allocation that minimizes the variance of the stratified mean,
    // i.e. what sample_stratified's flat rate should become when strata
    // differ in spread. Every step is engine-portable: σ weights come
    // from exact integer moments (one identical double sqrt per
    // stratum, then back to integers), the budget splits by
    // floor-division + largest-remainder (pure BIGINT), and membership
    // is the md5 rank within each stratum. Scale shape: two scans of
    // the fact table (moments, then rank), shuffles keyed on the
    // stratum; the two windows are bounded — the rank window partitions
    // BY STRATUM (its sort is the honest cost; at extreme scale a
    // sampled threshold + refine pass replaces it), the remainder
    // window sees |strata| rows.
    Q(
      "sample_neyman",
      (s, dir) => {
        val n = 1000L
        val dec = "decimal(38,0)"
        val base = Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 1000).cast("long").as("vq"))
        val w = base.groupBy("event_type")
          .agg(count(lit(1)).as("n_pop"),
            sum(col("vq").cast(dec)).as("s1"),
            sum(col("vq").cast(dec) * col("vq")).as("s2"))
          // N_h·σ_h = sqrt(N·Σv² − (Σv)²): exact integer in, one
          // shared double sqrt, integer out.
          .withColumn("wq",
            round(sqrt((col("n_pop") * col("s2") - col("s1") * col("s1"))
              .cast("double"))).cast("long"))
          .select("event_type", "n_pop", "wq")
        // NOT checkpointed (r18, reverting r17): materializing this
        // 5-row frame bought a synchronous job + block writes that cost
        // ~0.5 s while the saved recompute is one map-combined events
        // aggregate the consumers' shared plan already dedupes —
        // measured 0.66× at 32 cores (VERDICT r17).
        val withTot = w.crossJoin(
          broadcast(w.agg(sum("wq").as("twq"))))
          .withColumn("fl", expr(s"($n * wq) div twq"))
          .withColumn("rem", expr(s"($n * wq) % twq"))
        val byRem = org.apache.spark.sql.expressions.Window
          .orderBy(col("rem").desc, col("event_type"))
        val alloc = withTot.crossJoin(
          broadcast(withTot.agg(sum("fl").as("tfl"))))
          .withColumn("rk", row_number().over(byRem))
          .withColumn("alloc", least(
            col("fl") + when(col("rk") <= lit(n) - col("tfl"), 1L)
              .otherwise(0L),
            col("n_pop")))
          .select("event_type", "n_pop", "wq", "alloc")
        val byHash = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(md5(col("event_id").cast("string")), col("event_id"))
        base
          .withColumn("rn", row_number().over(byHash))
          .join(broadcast(alloc), "event_type")
          .filter(col("rn") <= col("alloc"))
          .groupBy("event_type", "n_pop", "wq", "alloc")
          .agg(count(lit(1)).as("n_sampled"),
            sum("event_id").as("id_checksum"),
            round(sum(col("vq")).cast("double") / count(lit(1)) / 1000.0, 4)
              .as("mean_value"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH base AS (
          SELECT event_id, event_type,
                 CAST(round(value * 1000) AS BIGINT) AS vq
          FROM events WHERE value IS NOT NULL),
        w AS (
          SELECT event_type, count(*) AS n_pop,
                 CAST(round(sqrt(CAST(count(*) * sum(vq::HUGEINT * vq)
                   - sum(vq::HUGEINT) * sum(vq::HUGEINT) AS DOUBLE)))
                   AS BIGINT) AS wq
          FROM base GROUP BY 1),
        t AS (SELECT CAST(sum(wq) AS BIGINT) AS twq FROM w),
        f AS (
          SELECT event_type, n_pop, wq,
                 (1000 * wq) // twq AS fl, (1000 * wq) % twq AS rem
          FROM w CROSS JOIN t),
        a AS (
          SELECT event_type, n_pop, wq,
                 least(fl + CASE WHEN row_number() OVER
                          (ORDER BY rem DESC, event_type)
                        <= 1000 - (SELECT sum(fl) FROM f)
                      THEN 1 ELSE 0 END, n_pop) AS alloc
          FROM f),
        r AS (
          SELECT b.*, row_number() OVER (PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                 AS rn
          FROM base b)
        SELECT r.event_type, n_pop, wq, alloc,
               count(*) AS n_sampled,
               CAST(sum(event_id) AS BIGINT) AS id_checksum,
               round(CAST(sum(vq) AS DOUBLE) / count(*) / 1000.0, 4)
                 AS mean_value
        FROM r JOIN a ON r.event_type = a.event_type AND rn <= alloc
        GROUP BY 1, 2, 3, 4 ORDER BY 1""")),

    // DSIR-style importance resampling (round 15; Xie et al. 2023,
    // "Data Selection for Language Models via Importance Resampling"):
    // the data-SELECTION pass that picks raw documents LOOKING LIKE a
    // target domain. Features are hashed unigrams (1024 md5 buckets —
    // the portable-hash discipline); the target model trains on the
    // src0 slice, the raw model on the whole corpus, both add-one
    // smoothed; a raw doc's importance is Σ over its token instances
    // of log(p_target(bucket)/p_raw(bucket)). Each bucket's log-ratio
    // is quantized ONCE to 1e-9 integer units and the per-doc score is
    // an INTEGER sum — order-free (the dq_drift_psi fixed-point
    // discipline), so ranking and hashes replay exactly; a double
    // Σln() would be summation-order-exposed. Top-20 non-target docs
    // selected. Scale shape: two 1024-row bucket histograms
    // (map-combined) broadcast onto the token stream; per-doc integer
    // aggregate (map-combined on doc_id); global top-20 is a
    // TakeOrdered, never a full sort.
    Q(
      "sample_dsir",
      (s, dir) => {
        // ONE tokenize+md5 pass (r18): the corpus arrives as one parquet
        // row group, so the explode+md5 stream — this key's dominant
        // CPU — ran at scan parallelism (one task) and TWICE (the
        // histogram and scoring consumers cannot share an Exchange:
        // Catalyst pushes the scoring branch's source≠src0 filter below
        // any shared shuffle, making the subtrees differ). Fix: hash-
        // repartition the docs by doc_id to the session shuffle width,
        // run the md5 pass once into the per-(doc, source, bucket)
        // count frame, and materialize THAT — the aggregated form is
        // bounded by min(token instances, docs·1024) compact rows, and
        // every downstream consumer (bucket histogram, per-doc scoring)
        // rolls up from it without re-tokenizing. Guide §2.3/§2.4.
        def bucket(term: org.apache.spark.sql.Column) =
          conv(substring(md5(term), 1, 15), 16, 10).cast("long") % 1024
        val toks = Cut(Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"))
          .repartition(col("doc_id"))
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("term"))
          .withColumn("b", bucket(col("term")))
          // groupBy(doc_id, source, b) is already clustered by the
          // repartition, so the pass is exchange-free end-to-end
          .groupBy("doc_id", "source", "b")
          .agg(count(lit(1)).as("c"))).df
        // ONE histogram pass carries both models: cr (raw) and ct
        // (target, a conditional sum) per bucket; nt/nr are its own
        // 1024-row rollup.
        val h = toks.groupBy("b").agg(
          sum(col("c")).as("cr"),
          sum(when(col("source") === "src0", col("c")).otherwise(0L))
            .as("ct"))
        val stats = h.agg(sum("ct").as("nt"), sum("cr").as("nr"))
        // one quantized log-ratio per bucket; 0-count target buckets
        // enter through the +1 smoothing
        val lr = h.crossJoin(broadcast(stats))
          .select(col("b"),
            floor(log(
              ((col("ct") + 1.0) / (col("nt") + 1024.0)) /
                ((col("cr") + 1.0) / (col("nr") + 1024.0))) * 1e9)
              .cast("long").as("q"))
        val scored = toks.filter(col("source") =!= "src0")
          .join(broadcast(lr), "b")
          .groupBy("doc_id", "source")
          .agg(sum(col("c")).as("n_tokens"),
            sum(col("q") * col("c")).as("dsir_n9"))
        scored
          .orderBy(desc("dsir_n9"), asc("doc_id"))
          .limit(20)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("dsir_n9"), asc("doc_id"))).cast("int"))
          .select(col("rank"), col("doc_id"), col("source"),
            col("n_tokens"), col("dsir_n9"))
          .orderBy("rank")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, source,
                 ('0x' || substring(md5(term), 1, 15))::BIGINT % 1024
                   AS b
          FROM (SELECT doc_id, source,
                       unnest(string_split(text, ' ')) AS term
                FROM documents)),
        tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM toks
                WHERE source = 'src0' GROUP BY 1),
        raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM toks
                GROUP BY 1),
        nn AS (SELECT
                 (SELECT count(*) FROM toks WHERE source = 'src0') AS nt,
                 (SELECT count(*) FROM toks) AS nr),
        lr AS (
          SELECT raw.b,
                 CAST(floor(ln(
                   ((coalesce(tgt.ct, 0) + 1.0) / (nn.nt + 1024.0)) /
                     ((raw.cr + 1.0) / (nn.nr + 1024.0))) * 1e9)
                   AS BIGINT) AS q
          FROM raw LEFT JOIN tgt ON tgt.b = raw.b CROSS JOIN nn),
        scored AS (
          SELECT t.doc_id, t.source,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(lr.q) AS BIGINT) AS dsir_n9
          FROM toks t JOIN lr ON lr.b = t.b
          WHERE t.source <> 'src0'
          GROUP BY 1, 2)
        SELECT CAST(row_number() OVER
                 (ORDER BY dsir_n9 DESC, doc_id) AS INT) AS rank,
               doc_id, source, n_tokens, dsir_n9
        FROM scored
        ORDER BY dsir_n9 DESC, doc_id
        LIMIT 20""")),

    // SOFT dedup for the training mix: near-duplicate clusters are
    // DOWN-WEIGHTED (weight = 1e6/cluster_size ppm) instead of dropped —
    // the modern alternative to hard dedup (keep every copy, make the
    // cluster's total contribution one document's worth), which
    // preserves distributional coverage while killing the duplication
    // bias. Pair generation is the PRODUCTION path: minhash-LSH
    // candidates (api.Dedup.minhashPortableCandidates — band-bucket
    // equi-join, O(corpus·bands) work) confirmed by exact 3-shingle
    // Jaccard ≥ 0.5 on the candidate pairs only, then closed under
    // api.Dedup.connectedComponents; docs in no pair keep weight 1e6.
    // (The first cut used the exactJaccardPairs audit join — the
    // ScaleSlope harness measured it 13× at 10× data, the Σdf²
    // quadratic; the LSH shape is why this op survives 100 TB.) LSH
    // recall is probabilistic by design — the lost pairs are priced by
    // dedup_lsh_audit, not hidden here. Output: per-source token budget
    // before/after, integer end-to-end (weights, products, and the
    // retention ratio are all BIGINT div arithmetic).
    Q(
      "mix_dedup_weighted",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("tokens"),
            col("text"))
        val cand = graft.api.Dedup.minhashPortableCandidates(
            docs, col("doc_id"), col("text"))
          .filter(col("n_shared_bands") >= 2)
          .select(col("id_a"), col("id_b"))
        val sh = docs.select(col("doc_id"),
          graft.api.Dedup.shingles(col("text")).as("sh"))
        // nodes + edges both read it
        val pairs = Cut(cand
          .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sa")),
            Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sb")),
            Seq("id_b"))
          .withColumn("inter",
            size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .withColumn("uni",
            size(col("sa")) + size(col("sb")) - col("inter"))
          .filter(expr("1000 * inter div uni") >= 500)
          .select(col("id_a"), col("id_b"))).df
        val nodes = pairs.select(col("id_a").as("n"))
          .unionAll(pairs.select(col("id_b").as("n"))).distinct()
        val cc = graft.api.Dedup.connectedComponents(
          nodes, col("n"), pairs, col("id_a"), col("id_b"))
        val sz = cc.groupBy("component").agg(count(lit(1)).as("csz"))
        docs.drop("text")
          .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .join(broadcast(sz), Seq("component"), "left")
          .select(col("doc_id"), col("source"), col("tokens"),
            expr("CAST(1000000 div coalesce(csz, CAST(1 AS BIGINT)) " +
              "AS BIGINT)").as("weight_ppm"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("weight_ppm") < 1000000, 1L).otherwise(0L))
              .as("n_downweighted"),
            sum(col("tokens")).as("raw_tokens"),
            sum(col("tokens") * col("weight_ppm"))
              .as("weighted_tokens_ppm"))
          .withColumn("retention_ppm",
            expr("weighted_tokens_ppm div raw_tokens"))
          .orderBy("source")
      },
      oracle = Some {
        val P = graft.api.Dedup.portableP
        val mins = (0 until 8).map(i =>
          s"min((${graft.api.Dedup.portableA(i)}*h+" +
            s"${graft.api.Dedup.portableB(i)})%$P) AS m$i").mkString(", ")
        val bandRows = (0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, md5(m${2 * b}::VARCHAR || ',' || " +
            s"m${2 * b + 1}::VARCHAR) AS bkey FROM sig")
          .mkString(" UNION ALL ")
        s"""
        WITH RECURSIVE w AS (
          SELECT doc_id, source, string_split(text, ' ') AS ws,
                 len(string_split(text, ' ')) AS n
          FROM documents),
        hsh AS (
          SELECT doc_id,
                 ('0x' || substring(md5(array_to_string(ws[i:i+2], ' ')),
                   1, 15))::BIGINT % $P AS h
          FROM w, unnest(generate_series(1, n - 2)) AS t(i)
          WHERE n >= 3),
        sig AS (SELECT doc_id, $mins FROM hsh GROUP BY doc_id),
        b AS ($bandRows),
        cand AS (
          SELECT a.doc_id AS id_a, b2.doc_id AS id_b, count(*) AS nsb
          FROM b a JOIN b b2
            ON a.band = b2.band AND a.bkey = b2.bkey
           AND a.doc_id < b2.doc_id
          GROUP BY 1, 2),
        shl AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(n - 2, 1)),
                   i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
          FROM w),
        pairs AS (
          SELECT c.id_a AS u, c.id_b AS v
          FROM cand c
          JOIN shl a ON a.doc_id = c.id_a
          JOIN shl b2 ON b2.doc_id = c.id_b
          WHERE c.nsb >= 2
            AND 1000 * len(list_intersect(a.sh, b2.sh))
                // (len(a.sh) + len(b2.sh)
                    - len(list_intersect(a.sh, b2.sh))) >= 500),
        nodes AS (SELECT u AS n FROM pairs UNION SELECT v FROM pairs),
        adj AS (SELECT u AS n, v AS m FROM pairs
                UNION ALL SELECT v AS n, u AS m FROM pairs),
        reach(n, r) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT reach.n, adj.m FROM reach JOIN adj ON adj.n = reach.r),
        cc AS (SELECT n, min(r) AS comp FROM reach GROUP BY n),
        sz AS (SELECT comp, count(*) AS csz FROM cc GROUP BY 1),
        wd AS (
          SELECT w.doc_id, w.source, CAST(w.n AS BIGINT) AS tokens,
                 CAST(1000000 // coalesce(sz.csz, 1) AS BIGINT)
                   AS weight_ppm
          FROM w
          LEFT JOIN cc ON cc.n = w.doc_id
          LEFT JOIN sz ON sz.comp = cc.comp)
        SELECT source, count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE weight_ppm < 1000000)
                 AS BIGINT) AS n_downweighted,
               CAST(sum(tokens) AS BIGINT) AS raw_tokens,
               CAST(sum(tokens * weight_ppm) AS BIGINT)
                 AS weighted_tokens_ppm,
               CAST(sum(tokens * weight_ppm) // sum(tokens) AS BIGINT)
                 AS retention_ppm
        FROM wd GROUP BY source ORDER BY source"""
      }),

    // Mixture construction: downsample three sources to a 50/30/20 target
    // using integer-exact quotas (largest feasible total without
    // upsampling), selection = smallest ids per source. The audit output
    // is one row per source; the quota arithmetic is BIGINT everywhere so
    // both engines agree exactly.
    Q(
      "mix_weighted",
      (s, dir) => {
        val sel = graft.api.Pipeline.weightedMixture(
          Tables.documents(s, dir), col("source"), col("doc_id"),
          Map("src0" -> 500L, "src1" -> 300L, "src2" -> 200L))
        sel.groupBy("source", "n_avail", "w_pm", "quota")
          .agg(count(lit(1)).as("n_selected"),
            sum("id").as("id_checksum"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH w AS (
          SELECT mix_source, CAST(w_pm AS BIGINT) AS w_pm
          FROM (VALUES ('src0', 500), ('src1', 300), ('src2', 200))
            AS v(mix_source, w_pm)),
        c AS (
          SELECT source AS mix_source, count(*) AS n_avail
          FROM documents GROUP BY 1),
        j AS (
          SELECT mix_source, n_avail, w_pm,
                 (1000 * n_avail) // w_pm AS t_s
          FROM c JOIN w USING (mix_source)),
        q AS (
          SELECT mix_source, n_avail, w_pm,
                 ((SELECT min(t_s) FROM j) * w_pm) // 1000 AS quota
          FROM j),
        ranked AS (
          SELECT d.source AS mix_source, d.doc_id,
                 row_number() OVER (PARTITION BY d.source
                                    ORDER BY d.doc_id) AS rn
          FROM documents d JOIN q ON d.source = q.mix_source)
        SELECT q.mix_source AS source, q.n_avail, q.w_pm, q.quota,
               count(*) AS n_selected,
               CAST(sum(r.doc_id) AS BIGINT) AS id_checksum
        FROM ranked r JOIN q USING (mix_source)
        WHERE r.rn <= q.quota
        GROUP BY 1, 2, 3, 4 ORDER BY source""")),

    // Curriculum schedule — the staged-difficulty plan a training run
    // consumes: docs tier by a deterministic quality score (stopword
    // permille, integer division — natural prose scores high on this
    // corpus), and epoch e admits tiers 1..e, so training starts on the
    // cleanest slice and widens. Tiers come from FIXED score thresholds,
    // not a global ntile: at 100 TB a rank-based tiering is a
    // single-partition total sort, while threshold tiering is a map-side
    // projection (and if the thresholds must be data-derived, compute
    // them from the ≤1001-row score histogram — the score domain is
    // bounded permille — and broadcast). The 3-row epoch table
    // broadcast-joins the tiered stats; the schedule aggregate is tiny.
    // Writing the corpus partitionBy(tier) makes each epoch's read a
    // partition-pruned scan — the same O(1) layout primitive as the
    // day-partitioned sinks.
    Q(
      "mix_curriculum",
      (s, dir) => {
        val sp2 = s
        import sp2.implicits._
        val stops = Seq("the", "a", "of", "to", "and", "in", "is")
        val ws = split(col("text"), " ")
        val tiered = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(ws).cast("long").as("n_words"),
            size(filter(ws, w => w.isInCollection(stops)))
              .cast("long").as("n_stop"))
          .withColumn("score_pm",
            expr("1000 * n_stop div greatest(n_words, 1)"))
          .withColumn("tier",
            when(col("score_pm") >= 70, 1L)
              .when(col("score_pm") >= 45, 2L).otherwise(3L))
        Seq(1L, 2L, 3L).toDF("epoch")
          .crossJoin(tiered)
          .filter(col("tier") <= col("epoch"))
          .groupBy("epoch", "tier")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_words").as("sum_tokens"))
          .orderBy("epoch", "tier")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w IN ('the','a','of','to','and','in','is')))
                   AS BIGINT) AS n_stop
          FROM documents),
        t AS (
          SELECT doc_id, n_words,
                 1000 * n_stop // greatest(n_words, 1) AS score_pm
          FROM d),
        tt AS (
          SELECT doc_id, n_words,
                 CASE WHEN score_pm >= 70 THEN 1
                      WHEN score_pm >= 45 THEN 2 ELSE 3 END AS tier
          FROM t)
        SELECT CAST(e.epoch AS BIGINT) AS epoch,
               CAST(tt.tier AS BIGINT) AS tier,
               count(*) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS sum_tokens
        FROM tt CROSS JOIN (SELECT unnest([1, 2, 3]) AS epoch) e
        WHERE tt.tier <= e.epoch
        GROUP BY 1, 2 ORDER BY epoch, tier""")),

    // Temperature-scaled mixing (T=2 √-weighting — the standard
    // multilingual rebalance): per-source weight ⌊1000·√n⌋, largest
    // no-upsampling budget, quotas by integer division, selection by
    // Knuth-hash order. The one √ is floor-quantized on a per-source
    // COUNT before any further arithmetic, so the audit row set is
    // engine-exact end to end.
    // Annealed mixing schedule — the pretraining-then-anneal data recipe
    // as a first-class plan: over 4 training phases, each source's weight
    // interpolates linearly from natural proportions (phase 0: weight ∝
    // its token inventory — big web sources dominate) to uniform (phase
    // 3: every source equal — the high-quality anneal tail), and each
    // phase's 100k-token budget is split by the interpolated weights.
    // Completes the mix shelf: mix_weighted/temperature pick ONE
    // distribution, mix_budget_solver prices one, mix_curriculum orders
    // within one — THIS is the distribution as a function of training
    // time. All integer: endpoint weights in permyriad, interpolation
    // held in 3×-permyriad units (no intermediate division), quotas by
    // BIGINT floor division. One token aggregate over the corpus; the
    // schedule itself is sources×phases rows.
    // Largest-remainder (Hamilton) apportionment — the exact-budget
    // allocator the floor-quota mix keys stop short of: floor quotas
    // leave a residual (Σ floor < budget); here the residual seats go to
    // the largest fractional remainders (ties to the smaller source id),
    // so Σ quota == budget EXACTLY — the property a token-budget
    // contract needs before a training run is provisioned. All integer:
    // remainders compared as budget·n mod total (never a float
    // fraction); the rank is a window over source-cardinality rows.
    Q(
      "mix_largest_remainder",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 100000L
        val inv = Tables.documents(s, dir)
          .groupBy("source")
          .agg(sum(size(split(col("text"), " ")).cast("long"))
            .as("n_tokens"))
        val tot = inv.agg(sum("n_tokens").as("nt"))
        val base = inv.crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"),
            expr(s"($budget * n_tokens) div nt").as("floor_q"),
            expr(s"($budget * n_tokens) % nt").as("rem"))
        val short = base
          .agg((lit(budget) - sum("floor_q")).as("extra"))
        val w = Window.orderBy(desc("rem"), asc("source"))
        base.withColumn("rk", row_number().over(w))
          .crossJoin(broadcast(short))
          .select(col("source"), col("n_tokens"), col("floor_q"),
            col("rem"),
            (col("floor_q") +
              when(col("rk") <= col("extra"), 1L).otherwise(0L))
              .as("quota"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH inv AS (
          SELECT source,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS nt FROM inv),
        base AS (
          SELECT source, n_tokens,
                 (100000 * n_tokens) // nt AS floor_q,
                 (100000 * n_tokens) % nt AS rem
          FROM inv, tot),
        short AS (
          SELECT 100000 - CAST(sum(floor_q) AS BIGINT) AS extra
          FROM base),
        rk AS (
          SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS r
          FROM base)
        SELECT source, n_tokens, floor_q, rem,
               floor_q + CASE WHEN r <= extra THEN 1 ELSE 0 END AS quota
        FROM rk, short ORDER BY source""")),

    Q(
      "mix_anneal_schedule",
      (s, dir) => {
        import s.implicits._
        val inv = Tables.documents(s, dir)
          .groupBy("source")
          .agg(sum(size(split(col("text"), " ")).cast("long"))
            .as("n_tokens"))
        val tot = inv.agg(sum("n_tokens").as("nt"),
          count(lit(1)).as("ns"))
        val phases = Seq(0L, 1L, 2L, 3L).toDF("phase")
        val wts = inv.crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"),
            expr("(10000 * n_tokens) div nt").as("w_size_pm"),
            expr("10000 div ns").as("w_uni_pm"))
          .crossJoin(broadcast(phases))
          .select(col("phase"), col("source"), col("n_tokens"),
            ((lit(3L) - col("phase")) * col("w_size_pm") +
              col("phase") * col("w_uni_pm")).as("w3"))
        val norm = wts.groupBy("phase").agg(sum("w3").as("sw3"))
        wts.join(norm, Seq("phase"))
          .select(col("phase"), col("source"), col("n_tokens"),
            expr("(10000 * w3) div sw3").as("w_pm"),
            expr("(100000 * w3) div sw3").as("quota_tokens"))
          .orderBy("phase", "source")
      },
      oracle = Some("""
        WITH inv AS (
          SELECT source,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS nt,
                       count(*) AS ns FROM inv),
        wts AS (
          SELECT p.phase, i.source, i.n_tokens,
                 (3 - p.phase) * ((10000 * i.n_tokens) // t.nt)
                   + p.phase * (10000 // t.ns) AS w3
          FROM inv i CROSS JOIN tot t
          CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS phase) p),
        norm AS (SELECT phase, CAST(sum(w3) AS BIGINT) AS sw3
                 FROM wts GROUP BY phase)
        SELECT w.phase, w.source, w.n_tokens,
               (10000 * w.w3) // n.sw3 AS w_pm,
               (100000 * w.w3) // n.sw3 AS quota_tokens
        FROM wts w JOIN norm n USING (phase)
        ORDER BY w.phase, w.source""")),

    Q(
      "mix_temperature",
      (s, dir) => {
        val sel = graft.api.Pipeline.temperatureMixture(
          Tables.documents(s, dir), col("source"), col("doc_id"))
        sel.groupBy("source", "n_avail", "w", "quota")
          .agg(count(lit(1)).as("n_selected"),
            sum("id").as("id_checksum"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH c AS (
          SELECT source AS g, count(*) AS n_avail FROM documents GROUP BY 1),
        w AS (
          SELECT g, n_avail,
                 CAST(floor(sqrt(n_avail) * 1000) AS BIGINT) AS w FROM c),
        t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
        b AS (SELECT min((n_avail * tw) // w) AS budget FROM w CROSS JOIN t),
        q AS (
          SELECT g, n_avail, w,
                 ((SELECT budget FROM b) * w) // (SELECT tw FROM t) AS quota
          FROM w),
        r AS (
          SELECT source AS g, doc_id,
                 row_number() OVER (PARTITION BY source
                   ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS rn
          FROM documents)
        SELECT q.g AS source, q.n_avail, q.w, q.quota,
               count(*) AS n_selected,
               CAST(sum(r.doc_id) AS BIGINT) AS id_checksum
        FROM r JOIN q USING (g)
        WHERE r.rn <= q.quota
        GROUP BY 1, 2, 3, 4 ORDER BY source""")),

    // Fractional repeat factors (wiki 2.5 epochs, web 0.3, one source
    // dropped outright, unlisted sources defaulting to 1.0): copy counts
    // are a pure function of (id, factor) via the portable 60-bit hash,
    // so the SAME docs carry the fractional extra copy on any engine.
    // Broadcast factor join + generator explode — zero shuffles; the
    // orderBy is presentation-only.
    Q(
      "mix_epoch_repeat",
      (s, dir) =>
        graft.api.Pipeline.repeatMixture(
          Tables.documents(s, dir), col("source"), col("doc_id"),
          Map("src0" -> 2500L, "src1" -> 300L, "src2" -> 1700L,
            "src3" -> 0L))
          .select(col("id").as("doc_id"), col("source"), col("f_pm"),
            col("n_copies"), col("copy"))
          .orderBy("doc_id", "copy"),
      oracle = Some("""
        WITH f AS (
          SELECT * FROM (VALUES
            ('src0', CAST(2500 AS BIGINT)), ('src1', CAST(300 AS BIGINT)),
            ('src2', CAST(1700 AS BIGINT)), ('src3', CAST(0 AS BIGINT)))
            AS t(source, f_pm_raw)),
        d AS (
          SELECT doc_id, source,
                 CAST(coalesce(f.f_pm_raw, 1000) AS BIGINT) AS f_pm,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   ::BIGINT % 1000 AS hfrac
          FROM documents LEFT JOIN f USING (source)),
        c AS (
          SELECT doc_id, source, f_pm,
                 CAST(f_pm // 1000 +
                      CASE WHEN hfrac < f_pm % 1000 THEN 1 ELSE 0 END
                   AS BIGINT) AS n_copies
          FROM d)
        SELECT doc_id, source, f_pm, n_copies, CAST(copy AS BIGINT) AS copy
        FROM c, unnest(generate_series(1, CAST(n_copies AS INT)))
               AS t(copy)
        WHERE n_copies > 0
        ORDER BY doc_id, copy""")),

    // The data-recipe PLANNER whose output mix_epoch_repeat executes
    // (round 12): given per-source token inventories, integer mix
    // weights, and a total token budget, solve for each source's target
    // tokens (budget·w div Σw), full epochs over its inventory, and the
    // residual sampling rate in permille — exactly the (epochs,
    // f_pm) pair the repeat-mixture operator consumes. ALL integer
    // division, so the recipe is engine-exact; the corpus collapses to
    // per-source token sums in one map-side aggregate and the solver
    // runs on source-cardinality rows. Weights derive from the source
    // number (1..4 cycling) so both engines compute them, not read them.
    Q(
      "mix_budget_solver",
      (s, dir) => {
        val budget = 2000000L
        val inv = Tables.documents(s, dir)
          .select(col("source"),
            regexp_extract(col("source"), "src(\\d+)", 1)
              .cast("long").as("srcnum"),
            size(split(col("text"), " ")).cast("long").as("tc"))
          .groupBy("source", "srcnum")
          .agg(sum("tc").as("n_tokens"))
          .withColumn("w", pmod(col("srcnum"), lit(4L)) + 1L)
        val tw = inv.agg(sum("w").as("sw"))
        inv.crossJoin(broadcast(tw))
          .withColumn("target_tokens", expr(s"$budget * w div sw"))
          .select(col("source"), col("w"), col("n_tokens"),
            col("target_tokens"),
            expr("target_tokens div n_tokens").as("epochs"),
            expr("(target_tokens % n_tokens) * 1000 div n_tokens")
              .as("residual_pm"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH inv AS (
          SELECT source,
                 CAST(regexp_extract(source, 'src(\d+)', 1) AS BIGINT)
                   AS srcnum,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY 1, 2),
        iw AS (SELECT source, srcnum % 4 + 1 AS w, n_tokens FROM inv),
        tw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM iw),
        t AS (
          SELECT source, w, n_tokens,
                 CAST(2000000 * w // sw AS BIGINT) AS target_tokens
          FROM iw CROSS JOIN tw)
        SELECT source, w, n_tokens, target_tokens,
               target_tokens // n_tokens AS epochs,
               (target_tokens % n_tokens) * 1000 // n_tokens
                 AS residual_pm
        FROM t ORDER BY source""")),

    // Deterministic epoch shuffle: sort key = portable hash of
    // "epoch:id", shard = key mod 8, position = rank within shard. Two
    // epochs side by side prove the permutation actually changes. ONE
    // shuffle on the shard key + per-shard local sort — no global
    // total-order (an orderBy(rand()) + row_number would funnel 100 TB
    // through one partition), no seed to distribute.
    Q(
      "pipeline_epoch_shuffle",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val e0 = graft.api.Pipeline.epochShuffle(docs, col("doc_id"), 0)
          .withColumn("epoch", lit(0))
        val e1 = graft.api.Pipeline.epochShuffle(docs, col("doc_id"), 1)
          .withColumn("epoch", lit(1))
        e0.unionByName(e1)
          .select(col("epoch"), col("shard"), col("pos"),
            col("id").as("doc_id"), col("sort_key"))
          .orderBy("epoch", "shard", "pos")
      },
      oracle = Some("""
        WITH e AS (SELECT unnest([0, 1]) AS epoch),
        h AS (
          SELECT e.epoch, doc_id,
                 ('0x' || substring(md5(CAST(e.epoch AS VARCHAR) || ':' ||
                    CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS sort_key
          FROM documents CROSS JOIN e)
        SELECT epoch, sort_key % 8 AS shard,
               row_number() OVER (PARTITION BY epoch, sort_key % 8
                 ORDER BY sort_key, doc_id) AS pos,
               doc_id, sort_key
        FROM h ORDER BY epoch, shard, pos""")),

    // Balance-to-cap: every language capped at 70 docs, survivors chosen
    // by portable-hash rank — the skew-REMOVING cut (sample_stratified's
    // uniform rate leaves skew intact). One shuffle on the group key;
    // under-cap groups pass through complete (fr keeps all 64).
    Q(
      "sample_balance_cap",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val kept = graft.api.Pipeline.balanceCap(
          docs, col("lang"), col("doc_id"), cap = 70)
        kept.groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            sum("bal_id").as("id_checksum"))
          .join(docs.groupBy("lang").agg(count(lit(1)).as("n_total")),
            "lang")
          .select(col("lang"), col("n_total"), col("n_kept"),
            col("id_checksum"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH r AS (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang ORDER BY
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                     ::BIGINT, doc_id) AS rn
          FROM documents)
        SELECT lang,
               count(*) AS n_total,
               CAST(count(*) FILTER (WHERE rn <= 70) AS BIGINT) AS n_kept,
               CAST(sum(doc_id) FILTER (WHERE rn <= 70) AS BIGINT)
                 AS id_checksum
        FROM r GROUP BY lang ORDER BY lang""")),

    // The per-source data card ("datasheets for datasets"): docs, token
    // mass, mean length, language census + dominant language, duplicate
    // incidence (200-char prefix digest — the corpus plants near-dups,
    // not byte dups, so whole-text md5 would read 0 everywhere; the
    // prefix digest is corpus_prep's dedup key and flags 31 docs at
    // sf0.01), Gopher quality pass rate — ONE declarative plan a
    // release pipeline materializes next to every shipped corpus. All
    // measures are integers (mean length is ×100 integer division), so
    // the card is engine-exact; the text columns collapse to digests and
    // token counts at the first projection, so at 100 TB the shuffles
    // carry per-source partials, never documents.
    Q(
      "pipeline_dataset_card",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(col("doc_id"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("toks"),
          md5(substring(col("text"), 1, 200)).as("dig"))
        val dupDigs = base.groupBy("dig").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select(col("dig"), lit(1L).as("is_dup"))
        val q = graft.api.Text.gopherQuality(docs, col("doc_id"),
          col("text")).select(col("id").as("doc_id"), col("pass_all"))
        val per = base
          .join(dupDigs, Seq("dig"), "left")
          .join(q, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("toks").as("n_tokens"),
            expr("100 * sum(toks) div count(1)").as("avg_tokens_x100"),
            countDistinct("lang").as("n_langs"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_prefix_dup_docs"),
            sum(when(col("pass_all"), 1L).otherwise(0L))
              .as("n_quality_pass"))
        val topLang = base.groupBy("source", "lang")
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("source").orderBy(desc("c"), col("lang"))))
          .filter(col("rn") === 1)
          .select(col("source"), col("lang").as("top_lang"))
        per.join(topLang, "source").orderBy("source")
      },
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, source, lang,
                 string_split(text, ' ') AS ws,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                 CAST(length(replace(text, ' ', ''))
                   AS BIGINT) AS sumlen,
                 md5(substring(text, 1, 200)) AS dig
          FROM documents),
        r AS (
          SELECT doc_id, source, lang, n, dig,
                 (n BETWEEN 30 AND 80) AND
                 (sumlen * 100 BETWEEN n * 430 AND n * 470) AND
                 (CAST(len(list_filter(ws, x -> x IN
                    ('the','a','of','to','and','in','is')))
                    AS BIGINT) * 20 >= n) AND
                 (n < 2 OR
                  (n - 1 - CAST(len(list_distinct(list_transform(
                     generate_series(1, CAST(n AS INT) - 1),
                     i -> ws[i] || ' ' || ws[i + 1]))) AS BIGINT)) * 20
                    <= n - 1) AS pass_all
          FROM w),
        d AS (SELECT dig FROM w GROUP BY dig HAVING count(*) >= 2),
        per AS (
          SELECT r.source,
                 count(*) AS n_docs,
                 CAST(sum(n) AS BIGINT) AS n_tokens,
                 CAST(100 * sum(n) // count(*) AS BIGINT)
                   AS avg_tokens_x100,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(count(*) FILTER (WHERE d.dig IS NOT NULL)
                   AS BIGINT) AS n_prefix_dup_docs,
                 CAST(count(*) FILTER (WHERE pass_all) AS BIGINT)
                   AS n_quality_pass
          FROM r LEFT JOIN d ON r.dig = d.dig GROUP BY 1),
        tl AS (
          SELECT source, lang,
                 row_number() OVER (PARTITION BY source
                   ORDER BY count(*) DESC, lang) AS rn
          FROM w GROUP BY source, lang)
        SELECT per.source, n_docs, n_tokens, avg_tokens_x100, n_langs,
               n_prefix_dup_docs, n_quality_pass, tl.lang AS top_lang
        FROM per JOIN tl ON per.source = tl.source AND tl.rn = 1
        ORDER BY per.source""")),

    // Concat-then-split packing: tokens of consecutive docs per source are
    // conceptually concatenated and cut at every 512-token boundary; each
    // doc's spanned bin range is closed-form over a running sum — the
    // shuffle-once, no-sequential-state way to pack at scale.
    Q(
      "pack_concat_split",
      (s, dir) =>
        graft.api.Pipeline.packConcatSplit(
          Tables.documents(s, dir).withColumn("tc",
            size(split(col("text"), " "))),
          col("source"), col("doc_id"), col("tc"), budget = 512)
          .select(col("id").as("doc_id"), col("group").as("source"),
            col("n_tokens"), col("first_bin"), col("last_bin"),
            col("bins_spanned"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tc
          FROM documents),
        c AS (
          SELECT doc_id, source, tc,
                 CAST(coalesce(sum(tc) OVER (PARTITION BY source
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS before
          FROM t)
        SELECT doc_id, source, tc AS n_tokens,
               before // 512 AS first_bin,
               (before + tc - 1) // 512 AS last_bin,
               (before + tc - 1) // 512 - before // 512 + 1 AS bins_spanned
        FROM c ORDER BY doc_id""")),

    // Next-fit packing (docs never split): the sequential per-group fold
    // runs inside flatMapGroups, sharded by id so no group exceeds a
    // bounded size — the memory-safe ordered fold. The oracle REPLAYS the
    // fold as a recursive CTE stepping row-rank by row-rank inside each
    // (source, shard) partition — recursion depth = max rows per
    // partition, fine at oracle scale; the Spark side stays the O(n)
    // distributed fold.
    Q(
      "pack_sequences",
      (s, dir) =>
        graft.api.Pipeline.packNextFit(
          Tables.documents(s, dir).withColumn("tc",
            size(split(col("text"), " "))),
          col("source"), col("doc_id"), col("tc"),
          budget = 512, shards = 4)
          .select(col("id").as("doc_id"), col("group").as("source"),
            col("shard"), col("bin_id"), col("n_tokens"), col("fill_after"),
            (col("fill_after") <= 512 || col("n_tokens") > 512).as("fill_ok"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH RECURSIVE t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tc,
                 CAST(doc_id % 4 AS INT) AS shard
          FROM documents),
        n AS (
          SELECT *, row_number() OVER (PARTITION BY source, shard
                                       ORDER BY doc_id) AS rn
          FROM t),
        p AS (
          SELECT doc_id, source, shard, rn, tc,
                 CAST(0 AS BIGINT) AS bin_id, tc AS fill_after
          FROM n WHERE rn = 1
          UNION ALL
          SELECT n.doc_id, n.source, n.shard, n.rn, n.tc,
                 CASE WHEN p.fill_after + n.tc > 512
                      THEN p.bin_id + 1 ELSE p.bin_id END,
                 CASE WHEN p.fill_after + n.tc > 512
                      THEN n.tc ELSE p.fill_after + n.tc END
          FROM n JOIN p ON n.source = p.source AND n.shard = p.shard
                       AND n.rn = p.rn + 1)
        SELECT doc_id, source, shard, bin_id, tc AS n_tokens, fill_after,
               (fill_after <= 512 OR tc > 512) AS fill_ok
        FROM p ORDER BY doc_id""")),

    // Length-bucketed batching economics: docs are split into 8
    // equal-height length buckets (ntile over token count), and each
    // bucket reports the padding waste a fixed-shape batcher pays when it
    // pads every doc in the bucket to the bucket max — the readout that
    // decides whether length-bucketing is worth it vs one global max-len
    // (global waste is the same formula over one bucket; here src0.01
    // reads ~3-9% per bucket vs ~45% global). All integer: padded mass =
    // n·max(tc), waste in floor permyriad. The exact ntile is one global
    // sort kept because the oracle replays it bit-for-bit; at 100 TB the
    // bucket thresholds come from approx quantiles instead (the
    // agg_quantile_hist sketch) and the assignment is a map-side
    // broadcast-threshold lookup — the census itself is one hash
    // aggregate either way.
    Q(
      "pack_length_buckets",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("tc"))
        val b = t.withColumn("bucket",
          ntile(8).over(Window.orderBy(col("tc"), col("doc_id"))))
        b.groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            min("tc").as("min_tokens"),
            max("tc").as("max_tokens"),
            sum("tc").as("token_mass"))
          .withColumn("padded_mass", col("n_docs") * col("max_tokens"))
          .withColumn("waste_pm",
            expr("(10000 * (padded_mass - token_mass)) div padded_mass"))
          .orderBy("bucket")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tc
          FROM documents),
        b AS (
          SELECT tc, ntile(8) OVER (ORDER BY tc, doc_id) AS bucket
          FROM t),
        g AS (
          SELECT bucket, count(*) AS n_docs, min(tc) AS min_tokens,
                 max(tc) AS max_tokens, CAST(sum(tc) AS BIGINT) AS token_mass
          FROM b GROUP BY bucket)
        SELECT bucket, n_docs, min_tokens, max_tokens, token_mass,
               n_docs * max_tokens AS padded_mass,
               (10000 * (n_docs * max_tokens - token_mass))
                 // (n_docs * max_tokens) AS waste_pm
        FROM g ORDER BY bucket""")),

    // Loss-mask accounting for SFT-style packing: each doc's first
    // ceil(tc/4) tokens are its "prompt" (masked, no gradient), the rest
    // is trainable; docs are packed by the SAME deterministic next-fit as
    // pack_sequences, and the readout is the per-bin mask budget — docs,
    // tokens, masked vs trainable mass, the largest contiguous trainable
    // span, and the masked share in exact floor permyriad. This is the
    // number that decides whether a packing recipe wastes step compute
    // (a bin that is mostly prompt trains almost nothing). All integer
    // arithmetic; the oracle replays the identical next-fit recursion and
    // aggregates the identical spans — bit-stable in both engines. Scale:
    // packing is the shared per-(source, shard) sequential pass; the span
    // census is one hash aggregate on its output.
    Q(
      "pack_mask_spans",
      (s, dir) =>
        graft.api.Pipeline.packNextFit(
          Tables.documents(s, dir).withColumn("tc",
            size(split(col("text"), " "))),
          col("source"), col("doc_id"), col("tc"),
          budget = 512, shards = 4)
          .select(col("group").as("source"), col("shard"), col("bin_id"),
            col("n_tokens"))
          .withColumn("masked", expr("(n_tokens + 3) div 4"))
          .groupBy("source", "shard", "bin_id")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("bin_tokens"),
            sum("masked").as("n_masked"),
            sum(col("n_tokens") - col("masked")).as("n_trainable"),
            max(col("n_tokens") - col("masked")).as("max_span"))
          .withColumn("mask_share_pm",
            expr("(10000 * n_masked) div bin_tokens"))
          .orderBy("source", "shard", "bin_id"),
      oracle = Some("""
        WITH RECURSIVE t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tc,
                 CAST(doc_id % 4 AS INT) AS shard
          FROM documents),
        n AS (
          SELECT *, row_number() OVER (PARTITION BY source, shard
                                       ORDER BY doc_id) AS rn
          FROM t),
        p AS (
          SELECT doc_id, source, shard, rn, tc,
                 CAST(0 AS BIGINT) AS bin_id, tc AS fill_after
          FROM n WHERE rn = 1
          UNION ALL
          SELECT n.doc_id, n.source, n.shard, n.rn, n.tc,
                 CASE WHEN p.fill_after + n.tc > 512
                      THEN p.bin_id + 1 ELSE p.bin_id END,
                 CASE WHEN p.fill_after + n.tc > 512
                      THEN n.tc ELSE p.fill_after + n.tc END
          FROM n JOIN p ON n.source = p.source AND n.shard = p.shard
                       AND n.rn = p.rn + 1),
        m AS (SELECT source, shard, bin_id, tc,
                     (tc + 3) // 4 AS masked
              FROM p)
        SELECT source, shard, bin_id,
               count(*) AS n_docs,
               CAST(sum(tc) AS BIGINT) AS bin_tokens,
               CAST(sum(masked) AS BIGINT) AS n_masked,
               CAST(sum(tc - masked) AS BIGINT) AS n_trainable,
               CAST(max(tc - masked) AS BIGINT) AS max_span,
               CAST((10000 * CAST(sum(masked) AS BIGINT))
                 // CAST(sum(tc) AS BIGINT) AS BIGINT) AS mask_share_pm
        FROM m GROUP BY source, shard, bin_id
        ORDER BY source, shard, bin_id""")),

    // First-fit-decreasing packing — the quality-over-simplicity
    // counterpart to pack_sequences' next-fit: state is the whole bin
    // load LIST, replayed in the oracle by a recursive CTE carrying a
    // DuckDB list column (list_position of the first fitting bin =
    // exactly indexWhere on the Spark side). Cross-checked row-for-row
    // against an independent FFD simulation before landing. Budget 512,
    // 4 shards per source bound the sequential state.
    Q(
      "pack_ffd",
      (s, dir) =>
        graft.api.Pipeline.packFirstFitDecreasing(
          Tables.documents(s, dir).withColumn("tc",
            size(split(col("text"), " "))),
          col("source"), col("doc_id"), col("tc"),
          budget = 512, shards = 4)
          .select(col("id").as("doc_id"), col("group").as("source"),
            col("shard"), col("bin_id"), col("n_tokens"), col("load_after"))
          .orderBy("doc_id"),
      oracle = Some(ffdReplaySql + """
        SELECT doc_id, source, shard, bin_id, tc AS n_tokens, load_after
        FROM p ORDER BY doc_id""")),

    // Attention-efficiency census of the FFD packing — what sequence
    // packing actually costs a transformer: within a packed bin of fill
    // F and documents of lengths L_i, naive (unmasked) attention spends
    // ΣL_i²/F² of its pairs intra-document; the remainder is
    // cross-document contamination unless the trainer masks it. Per
    // source: bin count, mean fill (padding waste) and mean
    // intra-document attention share — the two numbers that decide
    // budget and masking strategy. Exactness: per-bin ratios of exact
    // integers quantized 1e-6 → order-free integer means.
    Q(
      "pack_attention_density",
      (s, dir) => {
        val packed = graft.api.Pipeline.packFirstFitDecreasing(
          Tables.documents(s, dir).withColumn("tc",
            size(split(col("text"), " "))),
          col("source"), col("doc_id"), col("tc"),
          budget = 512, shards = 4)
        val bins = packed.groupBy("group", "shard", "bin_id")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("fill"),
            sum(col("n_tokens") * col("n_tokens")).as("s2"))
          .withColumn("densq",
            round(col("s2") * 1e6 / (col("fill") * col("fill")))
              .cast("long"))
          .withColumn("fillq",
            round(col("fill") * 1e6 / 512.0).cast("long"))
        bins.groupBy(col("group").as("source"))
          .agg(count(lit(1)).as("n_bins"),
            sum("n_docs").as("n_docs"),
            round(sum("fillq").cast("double") / count(lit(1)) / 1e4, 4)
              .as("mean_fill_pct"),
            round(sum("densq").cast("double") / count(lit(1)) / 1e6, 4)
              .as("intra_attention"))
          .orderBy("source")
      },
      oracle = Some(ffdReplaySql + """,
        bins AS (
          SELECT source, shard, bin_id, count(*) AS n_docs,
                 CAST(sum(tc) AS BIGINT) AS fill,
                 CAST(sum(tc * tc) AS BIGINT) AS s2
          FROM p GROUP BY 1, 2, 3),
        q AS (
          SELECT source, n_docs,
                 CAST(round(s2 * 1e6 / (fill * fill)) AS BIGINT)
                   AS densq,
                 CAST(round(fill * 1e6 / 512.0) AS BIGINT) AS fillq
          FROM bins)
        SELECT source, count(*) AS n_bins,
               CAST(sum(n_docs) AS BIGINT) AS n_docs,
               round(CAST(sum(fillq) AS DOUBLE) / count(*) / 1e4, 4)
                 AS mean_fill_pct,
               round(CAST(sum(densq) AS DOUBLE) / count(*) / 1e6, 4)
                 AS intra_attention
        FROM q GROUP BY source ORDER BY source""")),

    // The LAST mile of a training-data pipeline: pack documents into
    // bins (FFD), assign each bin to a training shard by the portable
    // md5 hash of its (source, shard, bin) identity, and MATERIALIZE the
    // shards as a partitioned parquet sink — then read the sink back and
    // report per-shard stats. The oracle recomputes the same stats from
    // the packing replay, so a corrupted write/read round trip (lost
    // rows, mis-assigned shards) fails the hash gate, not just a row
    // count. Bin-keyed hashing keeps every bin's docs co-located in one
    // shard file (the property samplers and loaders rely on); the
    // honest imbalance it produces at 62 bins is visible in the output.
    Q(
      "pipeline_write_shards",
      (s, dir) => {
        val packed = graft.api.Pipeline.packFirstFitDecreasing(
          Tables.documents(s, dir).withColumn("tc",
            size(split(col("text"), " "))),
          col("source"), col("doc_id"), col("tc"),
          budget = 512, shards = 4)
        val binKey = concat_ws("/", col("group"), col("shard"),
          col("bin_id"))
        val assigned = packed.withColumn("training_shard",
          conv(substring(md5(binKey), 1, 15), 16, 10).cast("long") % 8L)
        val sink = s"${Scratch.fresh("pipeline_write_shards")}/shards"
        Stored.write(assigned, sink)(_.partitionBy("training_shard"))
        Stored.read(s, sink)
          .groupBy("training_shard")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(concat_ws("/", col("group"), col("shard"),
              col("bin_id"))).as("n_bins"),
            sum("n_tokens").as("n_tokens"))
          .orderBy("training_shard")
      },
      oracle = Some(ffdReplaySql + """,
        sh AS (
          SELECT *, ('0x' || substring(md5(source || '/' ||
                     CAST(shard AS VARCHAR) || '/' ||
                     CAST(bin_id AS VARCHAR)), 1, 15))::BIGINT % 8
                     AS training_shard
          FROM p)
        SELECT training_shard, count(*) AS n_docs,
               count(DISTINCT source || '/' || CAST(shard AS VARCHAR)
                     || '/' || CAST(bin_id AS VARCHAR)) AS n_bins,
               CAST(sum(tc) AS BIGINT) AS n_tokens
        FROM sh GROUP BY 1 ORDER BY 1""")),

    // Provenance manifest for a sharded training export: per (shard,
    // source) — doc count, token mass, id range, and an ORDER-INDEPENDENT
    // content checksum (bit_xor of each doc's 60-bit md5 digest), so a
    // consumer can verify any shard's contents without re-reading the
    // corpus, and the full manifest proves the export is a partition
    // (Σ n_docs = corpus rows; spec-asserted). XOR is the right fold at
    // scale: commutative/associative (partial-agg friendly, any partition
    // order), no overflow, and any single-doc substitution flips it.
    // One hash shuffle on (shard, source); digests are computed map-side.
    Q(
      "pipeline_lineage_manifest",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(
          col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tc"),
          conv(substring(md5(concat(lit("ln"),
            col("doc_id").cast("string"))), 1, 15), 16, 10)
            .cast("long").as("dig"))
        d.withColumn("shard", col("dig") % 6L)
          .groupBy("shard", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tc")).as("n_tokens"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"),
            expr("bit_xor(dig)").as("checksum"))
          .orderBy("shard", "source")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1
                   AS BIGINT) AS tc,
                 ('0x' || substring(md5('ln' || CAST(doc_id AS VARCHAR)),
                   1, 15))::BIGINT AS dig
          FROM documents)
        SELECT dig % 6 AS shard, source,
               count(*) AS n_docs,
               CAST(sum(tc) AS BIGINT) AS n_tokens,
               min(doc_id) AS min_doc, max(doc_id) AS max_doc,
               bit_xor(dig) AS checksum
        FROM d GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Ordered funnel over the event stream: users reaching view → click
    // → purchase, each stage strictly after the user's earliest previous
    // -stage event. Stage frontiers are per-key min-aggregates that only
    // shrink — no full-stream window.
    Q(
      "funnel_conversion",
      (s, dir) =>
        graft.api.Pipeline.funnel(
          Tables.events(s, dir), col("user_id"), col("event_type"),
          col("ts"), Seq("view", "click", "purchase"))
          .orderBy("stage_idx"),
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        s1 AS (SELECT user_id, min(us) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(us) AS t2 FROM e
               JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        s3 AS (SELECT e.user_id, min(us) AS t3 FROM e
               JOIN s2 USING (user_id)
               WHERE event_type = 'purchase' AND us > t2 GROUP BY 1),
        c AS (
          SELECT 1 AS stage_idx, 'view' AS stage,
                 (SELECT count(*) FROM s1) AS n_keys
          UNION ALL
          SELECT 2, 'click', (SELECT count(*) FROM s2)
          UNION ALL
          SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        SELECT stage_idx, stage, n_keys,
               round(n_keys * 1.0 /
                 (SELECT count(*) FROM s1), 4) AS conv_from_first
        FROM c ORDER BY stage_idx""")),

    // Cohort retention matrix: users bucketed by first-seen day, activity
    // per whole-week offset. Integer date arithmetic — engine-exact.
    Q(
      "cohort_retention",
      (s, dir) =>
        graft.api.Pipeline.cohortRetention(
          Tables.events(s, dir), col("user_id"), col("ts"))
          .orderBy("cohort_day", "week_offset"),
      oracle = Some("""
        WITH e AS (
          SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1)
        SELECT cohort_day, (d - cohort_day) // 7 AS week_offset,
               count(DISTINCT user_id) AS n_active
        FROM e JOIN f USING (user_id)
        GROUP BY 1, 2 ORDER BY cohort_day, week_offset""")),

    // End-to-end corpus preparation — the pipeline a training run feeds
    // from, as ONE declarative plan: normalize → token-count quality
    // filter → prefix-digest dedup (boilerplate/header duplicates: same
    // first 8 normalized tokens, keep the smallest id; the shuffle key is
    // a 128-bit digest regardless of document size) → concat-split
    // packing per source. Catalyst sees the whole chain, so the filter
    // runs before the dedup shuffle and only kept docs reach packing.
    Q(
      "pipeline_corpus_prep",
      (s, dir) => {
        val norm = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            graft.api.Text.normalize(col("text")).as("t"))
          .withColumn("toks", split(col("t"), " "))
          .withColumn("tc", size(col("toks")).cast("long"))
          .filter(col("tc").between(20, 500))
          .withColumn("pre", md5(array_join(slice(col("toks"), 1, 8), " ")))
        // One normalize pass (r17): keeper = row whose doc_id is the
        // per-prefix minimum, selected with a window over pre — the r16
        // groupBy+left_semi shape re-ran the normalize+tokenize regex
        // pipeline on both join sides.
        val wPre = org.apache.spark.sql.expressions.Window.partitionBy("pre")
        val kept = norm
          .withColumn("mind", min(col("doc_id")).over(wPre))
          .filter(col("doc_id") === col("mind"))
        graft.api.Pipeline.packConcatSplit(
          kept, col("source"), col("doc_id"), col("tc"), budget = 512)
          .select(col("id").as("doc_id"), col("group").as("source"),
            col("n_tokens"), col("first_bin"), col("last_bin"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH norm AS (
          SELECT doc_id, source,
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
          FROM documents),
        qual AS (
          SELECT doc_id, source, string_split(t, ' ') AS toks,
                 CAST(len(string_split(t, ' ')) AS BIGINT) AS tc
          FROM norm
          WHERE len(string_split(t, ' ')) BETWEEN 20 AND 500),
        pre AS (
          SELECT doc_id, source, tc,
                 md5(array_to_string(toks[1:8], ' ')) AS pre
          FROM qual),
        keep AS (
          SELECT pre, min(doc_id) AS doc_id FROM pre GROUP BY pre),
        kept AS (
          SELECT p.doc_id, p.source, p.tc
          FROM pre p JOIN keep k ON p.pre = k.pre AND p.doc_id = k.doc_id),
        packed AS (
          SELECT doc_id, source, tc,
                 CAST(coalesce(sum(tc) OVER (PARTITION BY source
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS before
          FROM kept)
        SELECT doc_id, source, tc AS n_tokens,
               before // 512 AS first_bin,
               (before + tc - 1) // 512 AS last_bin
        FROM packed ORDER BY doc_id""")),

    // SCD-2 dimension merge: a deterministic change batch (every tenth
    // customer moves nation) applied to the versioned customer dimension —
    // changed rows close at the effective date, new open versions append,
    // no-ops and history pass through. The change batch broadcasts; the
    // dimension never shuffles on more than its key.
    Q(
      "scd2_apply",
      (s, dir) => {
        val cust = Tables.customer(s, dir)
        val current = cust.select(col("c_custkey"),
          col("c_nationkey").as("nation"),
          lit("2024-01-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        val changes = cust.filter(col("c_custkey") % 10 === 3)
          .select(col("c_custkey"),
            ((col("c_nationkey") + 7) % 25).as("new_nation"),
            lit("2024-06-01").cast("date").as("eff"))
        graft.api.Joins.scd2Apply(
          current, col("c_custkey"), col("nation"),
          col("valid_from"), col("valid_to"),
          changes, col("c_custkey"), col("new_nation"), col("eff"))
          .select(col("key").as("c_custkey"), col("value").as("nation"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy("c_custkey", "valid_from")
      },
      oracle = Some("""
        WITH live AS (
          SELECT c_custkey AS k, c_nationkey AS v,
                 DATE '2024-01-01' AS vf FROM customer),
        ch AS (
          SELECT c_custkey AS k, (c_nationkey + 7) % 25 AS nv,
                 DATE '2024-06-01' AS ed
          FROM customer WHERE c_custkey % 10 = 3),
        closed AS (
          SELECT l.k, l.v, l.vf,
                 CASE WHEN ch.k IS NOT NULL AND ch.nv <> l.v
                      THEN ch.ed END AS vt
          FROM live l LEFT JOIN ch ON l.k = ch.k),
        newv AS (
          SELECT ch.k, ch.nv AS v, ch.ed AS vf, CAST(NULL AS DATE) AS vt
          FROM ch JOIN live l ON ch.k = l.k AND ch.nv <> l.v)
        SELECT k AS c_custkey, v AS nation, vf AS valid_from,
               vt AS valid_to, vt IS NULL AS is_current
        FROM (SELECT * FROM closed UNION ALL SELECT * FROM newv)
        ORDER BY c_custkey, valid_from""")),

    // SCD-2 point-in-time lookup — the read side of scd2_apply's write
    // side: every order resolves the customer's nation AS OF its order
    // date against a two-generation versioned dimension (every tenth
    // customer moves nation effective 1998-01-01, mid order-date
    // range, so both generations genuinely serve facts; validFrom
    // 1992-01-01 predates any TPC-H-family order date, so NO order
    // drops for want of a version — n_orders sums to the full order
    // count). ONE hash join
    // clustered on custkey with the validity window as post-join
    // filter (api.Joins.scd2Lookup; per-key fan-out = version count,
    // here ≤ 2) — never a date-bin explosion; the nation rollup uses
    // exact decimal price sums (agg_group discipline).
    Q(
      "join_scd2_lookup",
      (s, dir) => {
        val cust = Tables.customer(s, dir)
        val dim = cust.select(col("c_custkey").as("k"),
            col("c_nationkey").as("v"),
            lit("1992-01-01").cast("timestamp").as("vf"),
            when(col("c_custkey") % 10 === 3,
              lit("1998-01-01").cast("timestamp")).as("vt"))
          .unionAll(cust.filter(col("c_custkey") % 10 === 3)
            .select(col("c_custkey").as("k"),
              ((col("c_nationkey") + 7) % 25).as("v"),
              lit("1998-01-01").cast("timestamp").as("vf"),
              lit(null).cast("timestamp").as("vt")))
        val facts = Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderdate"),
            col("o_totalprice"))
        graft.api.Joins.scd2Lookup(
            facts, col("o_custkey"), col("o_orderdate"),
            dim, col("k"), col("vf"), col("vt"))
          .groupBy(col("v").as("nation"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("sum_price"))
          .orderBy("nation")
      },
      oracle = Some("""
        WITH dim AS (
          SELECT c_custkey AS k, c_nationkey AS v,
                 TIMESTAMP '1992-01-01' AS vf,
                 CASE WHEN c_custkey % 10 = 3
                   THEN TIMESTAMP '1998-01-01' END AS vt
          FROM customer
          UNION ALL
          SELECT c_custkey, (c_nationkey + 7) % 25,
                 TIMESTAMP '1998-01-01', NULL
          FROM customer WHERE c_custkey % 10 = 3),
        j AS (
          SELECT d.v, o.o_totalprice
          FROM orders o JOIN dim d
            ON o.o_custkey = d.k
           AND o.o_orderdate >= d.vf
           AND (d.vt IS NULL OR o.o_orderdate < d.vt))
        SELECT v AS nation, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM j GROUP BY v ORDER BY nation""")),

    // PageRank over the bipartite part↔supplier graph from lineitem
    // (distinct edges, symmetrized). Iterative join+agg rounds with
    // per-round lineage cuts. Oracle (round 11): api.Graph.pageRank is
    // fixed-point integer arithmetic, so the whole 5-round fixpoint is
    // order-independent and replayed unrolled in generated DuckDB SQL
    // ([[pagerankCtes]]); the mass certificate compares integers.
    // PipelineSpec additionally checks a hand-computed graph.
    Q(
      "graph_pagerank",
      (s, dir) => {
        // Numeric node encoding (even = part, odd = supplier): every
        // iteration shuffles/sorts/aggregates node ids, so 8-byte longs
        // beat strings throughout; labels are reconstructed only on the
        // 20 output rows. The edge layout is the shared per-(session,
        // dir) index built by warmGraph. The fixpoint's last round is a
        // cut, so the top-20 sort and the mass certificate both read it
        // without re-running the rounds.
        // PagerankRounds binds engine call, tolerance, and oracle at once.
        val iters = PagerankRounds
        val ranks = Graph.pageRank(pagerankEdges(s, dir), iterations = iters)
        // Mass certificate with a CORPUS-SCALED tolerance: floor division
        // loses < Σdeg + 2n units per round, so the bound is
        // iterations·(Σdeg + 2n) — derived from the same 1-row aggregate
        // as the mass itself. A fixed 1e9-unit tolerance would flip to
        // false at ~1e9 edges even though the algorithm is correct
        // (ADVICE r11).
        val mass = ranks.agg(sum("rank_fp").as("total_fp"),
          (lit(iters.toLong) * (sum(coalesce(col("deg"), lit(0L)))
            + lit(2L) * count(lit(1)))).as("tol_fp"))
        ranks.orderBy(desc("rank_fp"), asc("id")).limit(20)
          .crossJoin(broadcast(mass))
          .select(
            when(col("id") % 2 === 0, concat(lit("p"), expr("id div 2")))
              .otherwise(concat(lit("s"), expr("(id - 1) div 2"))).as("id"),
            round(col("rank_fp") / lit(1e9), 4).as("rank_ppm"),
            (abs(lit(1000000000000000L) - col("total_fp"))
              < col("tol_fp")).as("mass_ok"))
          .orderBy(desc("rank_ppm"), asc("id"))
      },
      oracle = Some(s"""
        WITH ${pagerankCtes(PagerankRounds)},
        pr_top AS (
          SELECT id, rank FROM pr_r$PagerankRounds
          ORDER BY rank DESC, id LIMIT 20),
        pr_tm AS (SELECT CAST(sum(rank) AS BIGINT) AS total,
                         CAST($PagerankRounds * (sum(deg) + 2 * count(*))
                           AS BIGINT) AS tol FROM pr_r$PagerankRounds)
        SELECT CASE WHEN t.id % 2 = 0 THEN 'p' || CAST(t.id // 2 AS VARCHAR)
                    ELSE 's' || CAST((t.id - 1) // 2 AS VARCHAR) END AS id,
               round(t.rank / 1e9, 4) AS rank_ppm,
               abs(CAST(1000000000000000 AS BIGINT) - m.total)
                 < m.tol AS mass_ok
        FROM pr_top t CROSS JOIN pr_tm m
        ORDER BY rank_ppm DESC, id""")),

    // "Customers also bought": top-3 recommendations per part, scored
    // by SHARED-ORDER COUNT over the urgent co-purchase stream — the
    // item-item collaborative-filtering rec list (the count weighting
    // is what graph_jaccard normalizes away; a rec list wants raw
    // evidence). Output bounded to the 20 strongest anchor parts (by
    // total co-purchase weight, ties by id). Scale: pair counts
    // map-combine to the distinct-pair frame; the per-anchor top-3 is
    // the capped-adjacency window shape.
    Q(
      "graph_recommend",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // Materialized once: the weighted edge frame feeds both the
        // anchor aggregate and the ranked join — without the checkpoint
        // the pair-count shuffle runs twice (r17).
        val w = Cut(urgentCoPurchasePairs(s, dir)
          .groupBy("u", "v").agg(count(lit(1)).as("cnt"))).df
        val sym = w.select(col("u").as("a"), col("v").as("b"), col("cnt"))
          .unionAll(w.select(col("v").as("a"), col("u").as("b"),
            col("cnt")))
        val anchors = sym.groupBy(col("a"))
          .agg(sum("cnt").as("tw"))
          .orderBy(col("tw").desc, col("a")).limit(20)
          .select(col("a"), col("tw"))
        val byW = Window.partitionBy("a")
          .orderBy(col("cnt").desc, col("b"))
        sym.join(broadcast(anchors), "a")
          .withColumn("rk", row_number().over(byW))
          .filter(col("rk") <= 3)
          .select(col("a").as("part"), col("tw").as("total_weight"),
            col("rk"), col("b").as("recommended"),
            col("cnt").as("shared_orders"))
          .orderBy("part", "rk")
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        pairs AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS cnt
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        sym AS (
          SELECT u AS a, v AS b, cnt FROM pairs
          UNION ALL
          SELECT v AS a, u AS b, cnt FROM pairs),
        anchors AS (
          SELECT a, CAST(sum(cnt) AS BIGINT) AS tw
          FROM sym GROUP BY 1
          ORDER BY tw DESC, a LIMIT 20),
        ranked AS (
          SELECT s.a, an.tw, s.b, s.cnt,
                 row_number() OVER (PARTITION BY s.a
                   ORDER BY s.cnt DESC, s.b) AS rk
          FROM sym s JOIN anchors an ON an.a = s.a)
        SELECT a AS part, tw AS total_weight, CAST(rk AS INT) AS rk,
               b AS recommended, cnt AS shared_orders
        FROM ranked WHERE rk <= 3
        ORDER BY part, rk""")),

    // Degree-distribution diagnostic of the co-purchase graph — the
    // measurement that PRICES the hub cap (graph_jaccard_capped) and
    // the wedge bounds: exact degree histogram percentiles (the integer
    // crossing recipe, no float interpolation) plus a power-law slope
    // fit of ln(count) on ln(degree) over the histogram points (the
    // text_zipf quantized-moment machinery — slope ≈ −α is the
    // heavy-tail signature; r² says whether a power law is even the
    // right model). Everything downstream of the degree count runs on
    // the histogram frame, bounded by max degree, never node count.
    Q(
      "graph_degree_stats",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = urgentCoPurchaseEdges(s, dir).df
        val deg = e.select(col("u").as("n"))
          .unionAll(e.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val hist = deg.groupBy("deg").agg(count(lit(1)).as("cnt"))
        val cum = Window.orderBy("deg")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val h = hist
          .withColumn("cumc", sum("cnt").over(cum))
          .withColumn("xq",
            round(log(col("deg").cast("double")) * 1e6).cast("long"))
          .withColumn("yq",
            round(log(col("cnt").cast("double")) * 1e6).cast("long"))
        val tot = h.agg(
          sum("cnt").as("n_nodes"),
          max("deg").as("max_deg"),
          count(lit(1)).as("k"),
          sum("xq").as("sx"), sum("yq").as("sy"),
          sum(col("xq") * col("yq")).as("sxy"),
          sum(col("xq") * col("xq")).as("sxx"),
          sum(col("yq") * col("yq")).as("syy"))
        val picks = h.crossJoin(broadcast(tot.select("n_nodes")))
          .agg(
            min(when(col("cumc") * 100 >= col("n_nodes") * 50,
              col("deg"))).as("p50_deg"),
            min(when(col("cumc") * 100 >= col("n_nodes") * 90,
              col("deg"))).as("p90_deg"))
        val edges1 = e.agg(count(lit(1)).as("n_edges"))
        val d = (c: org.apache.spark.sql.Column) => c.cast("double")
        tot.crossJoin(broadcast(edges1)).crossJoin(broadcast(picks))
          .select(col("n_nodes"), col("n_edges"), col("max_deg"),
            col("p50_deg"), col("p90_deg"),
            round((d(col("k")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
              / (d(col("k")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))),
              4).as("powerlaw_slope"),
            round((d(col("k")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
              * (d(col("k")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
              / ((d(col("k")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
                * (d(col("k")) * d(col("syy")) - d(col("sy")) * d(col("sy")))),
              4).as("r2"))
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        deg AS (
          SELECT n, count(*) AS deg
          FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
          GROUP BY n),
        hist AS (SELECT deg, count(*) AS cnt FROM deg GROUP BY 1),
        h AS (
          SELECT deg, cnt,
                 sum(cnt) OVER (ORDER BY deg ROWS UNBOUNDED PRECEDING)
                   AS cumc,
                 CAST(round(ln(CAST(deg AS DOUBLE)) * 1e6) AS BIGINT)
                   AS xq,
                 CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT)
                   AS yq
          FROM hist),
        tot AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS n_nodes,
                 max(deg) AS max_deg, count(*) AS k,
                 CAST(sum(xq) AS BIGINT) AS sx,
                 CAST(sum(yq) AS BIGINT) AS sy,
                 CAST(sum(xq * yq) AS BIGINT) AS sxy,
                 CAST(sum(xq * xq) AS BIGINT) AS sxx,
                 CAST(sum(yq * yq) AS BIGINT) AS syy
          FROM h),
        picks AS (
          SELECT min(CASE WHEN cumc * 100 >= 50 * t.n_nodes
                   THEN deg END) AS p50_deg,
                 min(CASE WHEN cumc * 100 >= 90 * t.n_nodes
                   THEN deg END) AS p90_deg
          FROM h CROSS JOIN tot t)
        SELECT n_nodes, (SELECT count(*) FROM e) AS n_edges, max_deg,
               p50_deg, p90_deg,
               round((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 4) AS powerlaw_slope,
               round((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 * (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / ((CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * (CAST(k AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 4) AS r2
        FROM tot CROSS JOIN picks""")),

    // HITS hubs & authorities over the directed customer→part purchase
    // bipartite — the complementary centrality to pageRank: a hub is a
    // customer whose basket concentrates on high-authority parts, an
    // authority a part bought by strong hubs (the mutual-reinforcement
    // readout behind "power-user / flagship-item" dashboards). Engine:
    // api.Graph.hits — fixed-point integer arithmetic, per-round L1
    // renormalization by BIGINT floor division, so the whole 4-round
    // fixpoint replays unrolled in the oracle (hitsCtes; the
    // pagerankCtes doctrine). Output: top-10 per kind, ties by id.
    Q(
      "graph_hits",
      (s, dir) => {
        val byKind = org.apache.spark.sql.expressions.Window
          .partitionBy("kind")
          .orderBy(col("score_fp").desc, col("id"))
        Graph.hits(purchaseEdges(s, dir), rounds = HitsRounds)
          .withColumn("rk", row_number().over(byKind))
          .filter(col("rk") <= 10)
          .select(col("kind"), col("rk"), col("id"), col("score_fp"))
          .orderBy("kind", "rk")
      },
      oracle = Some(s"""
        WITH ${hitsCtes(HitsRounds)}
        SELECT kind, rk, id, score_fp FROM (
          SELECT 'auth' AS kind,
                 row_number() OVER (ORDER BY a DESC, p) AS rk,
                 p AS id, a AS score_fp
          FROM ht_a$HitsRounds
          UNION ALL
          SELECT 'hub' AS kind,
                 row_number() OVER (ORDER BY h DESC, c) AS rk,
                 c AS id, h AS score_fp
          FROM ht_h$HitsRounds)
        WHERE rk <= 10 ORDER BY kind, rk""")),

    // Triangle census of the co-purchase graph (parts co-occurring in a
    // 1-URGENT order). The Spark side orients edges by (degree, id) —
    // the skew-proof wedge bound (api.Graph.triangleStats); the oracle
    // counts with plain id-ordering, which is valid because the census
    // is orientation-invariant. The urgent filter keeps the graph at a
    // density where the exact count is the right tool; the same code on
    // a denser graph is where the degree orientation earns its keep.
    Q(
      "graph_triangles",
      (s, dir) => Graph.triangleStats(urgentCoPurchaseEdges(s, dir)),
      oracle = Some("""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        deg AS (
          SELECT n, count(*) AS d
          FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
          GROUP BY n),
        tri AS (
          SELECT count(*) AS t
          FROM e e1
          JOIN e e2 ON e1.v = e2.u
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        SELECT (SELECT count(*) FROM deg) AS n_nodes,
               (SELECT count(*) FROM e) AS n_edges,
               CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
               (SELECT t FROM tri) AS n_triangles,
               round(3.0 * (SELECT t FROM tri) /
                     (SELECT sum(d * (d - 1) // 2) FROM deg), 4) AS transitivity""")),

    // Per-node local clustering coefficient over the urgent co-purchase
    // graph (same shared edge index as graph_triangles): exact per-node
    // triangle counts from the degree-ORIENTED wedge join (fan-out is
    // min-degree-bounded — the hub-safe layout; a hub of degree D costs
    // its neighbors' min-degrees, never D²), lcc emitted as exact floor
    // permyriad so no float ratio crosses the engine boundary. Top-30 by
    // (n_tri DESC, node) — a total order, so the LIMIT cut is stable.
    Q(
      "graph_clustering_coeff",
      (s, dir) => Graph.localClustering(urgentCoPurchaseEdges(s, dir))
        .orderBy(desc("n_tri"), asc("node"))
        .limit(30),
      oracle = Some("""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        deg AS (
          SELECT n, count(*) AS d
          FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
          GROUP BY n),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1
          JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        tpn AS (
          SELECT n, count(*) AS t
          FROM (SELECT a AS n FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
          GROUP BY n)
        SELECT CAST(deg.n AS BIGINT) AS node, deg.d AS d,
               CAST(coalesce(tpn.t, 0) AS BIGINT) AS n_tri,
               CAST(CASE WHEN deg.d >= 2
                 THEN (2 * coalesce(tpn.t, 0) * 10000)
                      // (deg.d * (deg.d - 1))
                 ELSE 0 END AS BIGINT) AS lcc_pm
        FROM deg LEFT JOIN tpn ON deg.n = tpn.n
        ORDER BY n_tri DESC, node LIMIT 30""")),

    // MATCH_RECOGNIZE-lite: each user's event history as an ordered
    // initial-letter path string ('s'ignup 'v'iew 'c'lick 'p'urchase
    // 'e'rror), then regex predicates over the path (did a signup ever
    // lead to a purchase? how many errors?). The collect is bounded by
    // per-user event count — the same per-entity-sequence contract as
    // sessionize/packing; order is pinned by (ts, event_id) inside
    // array_sort so the path is deterministic in both engines. At scale
    // this is one shuffle on user_id; the path regex is per-row codegen.
    Q(
      "pattern_sequence",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"),
            struct(unix_micros(col("ts")).as("t"),
              col("event_id").as("i"),
              substring(col("event_type"), 1, 1).as("c")).as("ste"))
        ev.groupBy("user_id")
          .agg(
            count(lit(1)).as("n_events"),
            array_join(
              transform(array_sort(collect_list(col("ste"))),
                x => x.getField("c")), "").as("path"))
          .select(col("user_id"), col("n_events"), col("path"),
            col("path").rlike("s.*p").as("converted"),
            (length(col("path")) -
              length(regexp_replace(col("path"), "e", ""))).as("n_errors"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH p AS (
          SELECT user_id,
                 count(*) AS n_events,
                 string_agg(left(event_type, 1), ''
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS path
          FROM events GROUP BY user_id)
        SELECT user_id, n_events, path,
               regexp_matches(path, 's.*p') AS converted,
               CAST(length(path) - length(replace(path, 'e', '')) AS INTEGER)
                 AS n_errors
        FROM p ORDER BY user_id""")),

    // Link prediction: common-neighbor Jaccard over the urgent
    // co-purchase graph (same edge derivation as graph_triangles). Top-20
    // most-similar part pairs, ordered by round(jaccard, 6) before the
    // tie-break columns — the float is computed by the identical single
    // division in both engines, so the cut is stable.
    //
    // TIERING CONTRACT (same two-tier pattern as dedup_containment's
    // sampled audit): THIS key is the exact-semantics AUDIT tier — its
    // wedge join is Σ deg² with no degree cap, which on a hub-skewed
    // graph grows quadratically on the hottest node (measured 110 s at
    // 10× in round 11). Run it at audit scale (a bounded subgraph or a
    // scale-factor slice) to ground-truth the capped estimate; the
    // 100 TB DEFAULT is `graph_jaccard_capped` directly below, whose
    // md5-ordered 64-neighbor cap bounds the join at Σ min(deg, 64)²
    // ≤ n·64² and whose output the oracle replays bit-exactly.
    Q(
      "graph_jaccard",
      (s, dir) => {
        Graph.neighborJaccard(urgentCoPurchaseEdges(s, dir), minCommon = 2)
          .orderBy(round(col("jaccard"), 6).desc, col("u"), col("v"))
          .limit(20)
          .select(col("u"), col("v"), col("common"),
            round(col("jaccard"), 4).as("jaccard"))
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj AS (SELECT u AS n, v AS m FROM e
                UNION ALL SELECT v AS n, u AS m FROM e),
        deg AS (SELECT n, count(*) AS d FROM adj GROUP BY n),
        c AS (
          SELECT a.m AS u, b.m AS v, count(*) AS common
          FROM adj a JOIN adj b ON a.n = b.n AND a.m < b.m
          GROUP BY 1, 2 HAVING count(*) >= 2),
        j AS (
          SELECT c.u, c.v, c.common,
                 CAST(c.common AS DOUBLE) /
                 CAST(du.d + dv.d - c.common AS DOUBLE) AS jac
          FROM c JOIN deg du ON c.u = du.n JOIN deg dv ON c.v = dv.n)
        SELECT u, v, common, round(jac, 4) AS jaccard
        FROM j
        ORDER BY round(jac, 6) DESC, u, v LIMIT 20""")),

    // The 100 TB form of graph_jaccard: every adjacency list is capped to
    // a DETERMINISTIC md5-ordered sample of 64 neighbors BEFORE the wedge
    // join, bounding it at Σ min(deg, 64)² ≤ n·64² instead of Σ deg² —
    // on a hub-skewed graph this is the difference between the wedge join
    // exploding quadratically on the hottest node and staying linear in
    // n. The output is the EXACT Jaccard of the sampled neighbor sets
    // (capped-degree denominators, membership against each endpoint's own
    // capped list), so the oracle replays the cap bit-exactly: the same
    // md5(n||'_'||m) windowed rank, the same shared-NEIGHBOR wedge
    // formulation (which, unlike graph_jaccard's shared-center form, is
    // the one that stays consistent with capped lists).
    Q(
      "graph_jaccard_capped",
      (s, dir) => {
        Graph.neighborJaccard(urgentCoPurchaseEdges(s, dir),
            minCommon = 2, maxNeighbors = 64)
          .orderBy(round(col("jaccard"), 6).desc, col("u"), col("v"))
          .limit(20)
          .select(col("u"), col("v"), col("common"),
            round(col("jaccard"), 4).as("jaccard"))
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adjf AS (SELECT u AS n, v AS m FROM e
                 UNION ALL SELECT v AS n, u AS m FROM e),
        adj AS (
          SELECT n, m FROM (
            SELECT n, m, row_number() OVER (PARTITION BY n
                ORDER BY md5(CAST(n AS VARCHAR) || '_'
                             || CAST(m AS VARCHAR)), m) AS hr
            FROM adjf) WHERE hr <= 64),
        deg AS (SELECT n, count(*) AS d FROM adj GROUP BY n),
        c AS (
          SELECT a.n AS u, b.n AS v, count(*) AS common
          FROM adj a JOIN adj b ON a.m = b.m AND a.n < b.n
          GROUP BY 1, 2 HAVING count(*) >= 2),
        j AS (
          SELECT c.u, c.v, c.common,
                 CAST(c.common AS DOUBLE) /
                 CAST(du.d + dv.d - c.common AS DOUBLE) AS jac
          FROM c JOIN deg du ON c.u = du.n JOIN deg dv ON c.v = dv.n)
        SELECT u, v, common, round(jac, 4) AS jaccard
        FROM j
        ORDER BY round(jac, 6) DESC, u, v LIMIT 20""")),

    // Deterministic random walks over the co-purchase graph — the
    // node2vec/DeepWalk SAMPLING primitive (the step before training graph
    // embeddings, and the neighborhood sampler a GNN data loader runs at
    // corpus scale). "Random" is a seedless md5 draw over (seed, step,
    // neighbor): each hop takes the neighbor minimizing the 60-bit hash,
    // so the trajectory is a pure function of the graph — bit-identical
    // in any engine, across runs, and under any partitioning (the same
    // portability rule every sampler in this repo follows; a PRNG keyed
    // by task id would be none of those). 5 seeds (lowest node ids), 4
    // hops, all seeds ride the walk frame together: each hop is ONE
    // broadcast join against the adjacency + a struct-min argmin — no
    // window over the neighbor fan-out, no per-seed jobs. At 100 TB the
    // same shape runs millions of walks: the walk frame shuffles on the
    // frontier node, the adjacency stays put. Oracle: 4 unrolled
    // hash-argmin CTEs replay the exact trajectory.
    Q(
      "graph_random_walk",
      (s, dir) => {
        val adj = urgentCoPurchaseAdj(s, dir).df
        val seeds = adj.select("n").distinct().orderBy("n").limit(5)
          .select(col("n").as("seed"), col("n").as("node"))
        var cur = seeds
        var out = seeds.withColumn("step", lit(0))
        for (k <- 1 to 4) {
          val h = conv(substring(md5(concat_ws(":",
            col("seed").cast("string"), lit(k.toString),
            col("m").cast("string"))), 1, 15), 16, 10).cast("long")
          // Cut the 5-row frontier per step (r17): without it each
          // later step's broadcast build AND each union branch of `out`
          // re-derives the whole chain — O(steps²) full scans of the
          // adjacency for a 25-row result (the StageBudgetSpec
          // re-execution class). With it the adjacency is scanned once
          // per step, exactly the walk's inherent cost.
          cur = Cut(broadcast(cur).join(adj, col("node") === col("n"))
            .select(col("seed"),
              struct(h.as("h"), col("m").as("m")).as("c"))
            .groupBy("seed").agg(min("c").as("c"))
            .select(col("seed"), col("c.m").as("node"))).df
          out = out.unionByName(cur.withColumn("step", lit(k)))
        }
        out.select(col("seed"), col("step"), col("node"))
          .orderBy("seed", "step")
      },
      oracle = Some(s"""
        WITH $walkOracleCtes
        SELECT seed, step, node FROM walk
        ORDER BY seed, step""")),

    // Skip-gram training-pair extraction from the deterministic walks —
    // the step that turns random-walk sampling into DeepWalk/node2vec
    // embedding TRAINING data: every co-occurring node pair within a
    // window of 2 hops on the same walk, canonicalized (u ≤ v) and
    // censused. Composes graph_random_walk's exact trajectories, so the
    // pair set is a pure function of the graph too. Scale: the pair
    // join is per-walk and window-bounded (≤ w·len pairs per walk,
    // never cross-walk) — at millions of walks it stays linear in walk
    // mass; the census is one hash aggregate.
    Q(
      "graph_walk_pairs",
      (s, dir) => {
        // Materialize the composed 25-row walk once: both self-join
        // sides would otherwise re-derive the whole 4-step trajectory
        // build (r17).
        val w = Cut(all.find(_.name == "graph_random_walk").get.run(s, dir)
          .select(col("seed"), col("step"), col("node"))).df
        w.as("a").join(w.as("b"),
            col("a.seed") === col("b.seed") &&
            col("b.step") > col("a.step") &&
            col("b.step") <= col("a.step") + 2)
          .select(least(col("a.node"), col("b.node")).as("u"),
            greatest(col("a.node"), col("b.node")).as("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("n_pairs"))
          .orderBy("u", "v")
      },
      oracle = Some(s"""
        WITH $walkOracleCtes
        SELECT least(a.node, b.node) AS u,
               greatest(a.node, b.node) AS v,
               count(*) AS n_pairs
        FROM walk a JOIN walk b
          ON a.seed = b.seed AND b.step > a.step
         AND b.step <= a.step + 2
        GROUP BY 1, 2 ORDER BY u, v""")),

    // Single-source BFS over the urgent co-purchase graph, reported as a
    // hop-distance histogram from the lowest part id. The Spark side is
    // frontier BFS (linear in touched edges); the oracle enumerates
    // paths with a depth-capped recursive CTE and takes min(d) — an
    // O(paths) strategy that only works at oracle scale, which is
    // exactly the point: the iterative-join frontier form IS the
    // 100 TB-capable shape.
    Q(
      "graph_bfs",
      (s, dir) => {
        val edges = urgentCoPurchaseEdges(s, dir)
        // u < v on the canonical set, so min(u) IS the global min node
        val source = edges.df.agg(min(col("u"))).first().getLong(0)
        Graph.bfs(edges, source, maxHops = 4)
          .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
          .orderBy("dist")
      },
      oracle = Some("""
        WITH RECURSIVE li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj AS (SELECT u AS n, v AS m FROM e
                UNION ALL SELECT v AS n, u AS m FROM e),
        src AS (SELECT min(n) AS s FROM adj),
        walk(n, d) AS (
          SELECT s, 0 FROM src
          UNION ALL
          SELECT adj.m, w.d + 1 FROM walk w
          JOIN adj ON adj.n = w.n WHERE w.d < 4),
        dd AS (SELECT n, min(d) AS dist FROM walk GROUP BY n)
        SELECT dist, count(*) AS n_nodes
        FROM dd GROUP BY dist ORDER BY dist""")),

    // Bounded-radius closeness centrality for a 5-landmark seed set —
    // the "how central is this node" feature graph-aware curation and
    // recommendation passes attach to entities. ONE composite-frontier
    // multi-source BFS (api.Graph.multiSourceBfs) carries all 5 seeds
    // simultaneously: per round the adjacency shuffles once regardless
    // of seed count, vs 5× for sequential per-seed BFS — the property
    // that makes landmark features affordable at cluster scale (seeds
    // ride as frontier rows, not as separate jobs). Radius-4 bound for
    // the same reason graph_bfs bounds: unbounded closeness needs the
    // full distance matrix. closeness = n_reached / Σdist, both exact
    // integers from the min-distance frame, one double division — the
    // oracle replays the BFS as a depth-capped recursive CTE with
    // UNION-dedup (set semantics bound the path enumeration the way
    // min-dist folding does on the Spark side).
    Q(
      "graph_closeness",
      (s, dir) => {
        val edges = urgentCoPurchaseEdges(s, dir)
        val sources = edges.df.select(col("u").as("n"))
          .unionAll(edges.df.select(col("v").as("n")))
          .distinct().orderBy("n").limit(5)
          .collect().map(_.getLong(0)).toSeq
        Graph.multiSourceBfs(edges, sources, maxHops = 4)
          .groupBy("src_id")
          .agg((count(lit(1)) - 1).as("n_reached"),
            sum(col("dist")).cast("long").as("sum_dist"))
          .select(col("src_id"), col("n_reached"), col("sum_dist"),
            round(col("n_reached") / col("sum_dist").cast("double"), 6)
              .as("closeness"))
          .orderBy("src_id")
      },
      oracle = Some("""
        WITH RECURSIVE li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj AS (SELECT u AS n, v AS m FROM e
                UNION ALL SELECT v AS n, u AS m FROM e),
        srcs AS (SELECT n FROM (SELECT DISTINCT n FROM adj)
                 ORDER BY n LIMIT 5),
        walk(s, n, d) AS (
          SELECT n, n, 0 FROM srcs
          UNION
          SELECT w.s, adj.m, w.d + 1 FROM walk w
          JOIN adj ON adj.n = w.n WHERE w.d < 4),
        dd AS (SELECT s, n, min(d) AS dist FROM walk GROUP BY s, n)
        SELECT s AS src_id,
               count(*) - 1 AS n_reached,
               CAST(sum(dist) AS BIGINT) AS sum_dist,
               round((count(*) - 1) / CAST(sum(dist) AS DOUBLE), 6)
                 AS closeness
        FROM dd GROUP BY s ORDER BY src_id""")),

    // Sampled betweenness centrality (Brandes 2001, the 5-landmark
    // seed-set form production graph stacks run — exact betweenness is
    // O(V·E) and nobody pays it at scale): forward phase = one
    // composite-frontier BFS carrying SHORTEST-PATH COUNTS σ (the
    // graph_closeness frontier with a sum instead of a distinct),
    // backward phase = Brandes' dependency accumulation
    // δ(v) = Σ_succ (σv/σw)·(1+δw) processed one depth-level at a time.
    // Determinism discipline: δ lives in integer MICRO-UNITS — each
    // term is the all-integer floor division (σv·(1e6+δq_w)) div σw,
    // partial sums are exact integer sums (order-free), so the whole
    // backward sweep replays bit-exactly in SQL; the floor bias is
    // bounded (≤ succ-count micro-units per node per level) and
    // identical in both engines. Radius-4, like the BFS/closeness keys:
    // bounded-radius betweenness is the production form (full-length
    // dependencies need the full distance matrix). Scale shape: every
    // phase is a frontier-or-level frame join against the adjacency —
    // k seeds ride one frontier, levels are bounded by the radius, no
    // all-pairs anywhere.
    Q(
      "graph_betweenness",
      (s, dir) => {
        val adjCut = urgentCoPurchaseAdj(s, dir)
        val adj = adjCut.df
        val sources = adj.select(col("n")).distinct()
          .orderBy("n").limit(5)
          .collect().map(_.getLong(0)).toSeq
        // The five seed rows are a local relation: they need no cut.
        val sp0 = s.createDataFrame(
            sources.map(x => (x, x, 0, 1L))).toDF("src", "node", "d", "sig")
          .select(col("src").cast("long"), col("node").cast("long"),
            col("d"), col("sig"))
        var sp = sp0
        var frontier = sp0
        val allDq = graft.api.quietRounds(s, adjCut.rows) {
        for (h <- 1 to 4) {
          val next = Cut(frontier.join(adj, frontier("node") === adj("n"))
            .groupBy(col("src"), col("m").as("node"))
            .agg(sum("sig").as("sig"))
            .join(sp.select("src", "node"), Seq("src", "node"), "left_anti")
            .withColumn("d", lit(h))
            .select("src", "node", "d", "sig")).df
          sp = sp.unionByName(next)
          frontier = next
        }
        // sp is a union of 5 already-checkpointed level frames — the
        // backward filters below scan cached blocks; re-checkpointing
        // the union only added a materialization job (r17).
        // backward: level h pulls from level h+1's micro-unit deltas.
        // Each level frame carries (src, node, sig, dq): keeping sig on
        // the dq frame lets level h read level h+1's (sig, dq) from ONE
        // frame instead of re-joining sp against dqByLevel per level
        // (r17: one join per level removed). Level 0 is the sources
        // themselves — Brandes excludes δ_s(s) from bc, so its
        // dependency pass is never computed (the r16 code built and
        // checkpointed it, then dropped it).
        var dqByLevel = Map[Int, org.apache.spark.sql.DataFrame](
          4 -> sp.filter(col("d") === 4)
            .select(col("src"), col("node"), col("sig"), lit(0L).as("dq")))
        for (h <- 3 to 1 by -1) {
          val cur = sp.filter(col("d") === h)
            .select(col("src"), col("node"), col("sig"))
          val nxt = dqByLevel(h + 1)
            .select(col("src"), col("node").as("m"),
              col("sig").as("wsig"), col("dq").as("wdq"))
          val terms = cur.join(adj, cur("node") === adj("n"))
            .join(nxt, Seq("src", "m"))
            .select(col("src"), col("node"),
              expr("(sig * (1000000 + wdq)) div wsig").as("term"))
            .groupBy("src", "node").agg(sum("term").as("dqs"))
          val dq = Cut(cur.join(terms, Seq("src", "node"), "left")
            .select(col("src"), col("node"), col("sig"),
              coalesce(col("dqs"), lit(0L)).as("dq"))).df
          dqByLevel += (h -> dq)
        }
        // Each dqByLevel(h) holds exactly level h's (src, node) rows by
        // construction (built from sp.filter(d === h) via a left join),
        // so the r16 per-level left_semi re-filter against sp was an
        // identity — 4 SortMergeJoins in the final plan for nothing.
        (1 to 4).map(h => dqByLevel(h).select("node", "dq"))
          .reduce(_ unionByName _)
        }
        allDq.groupBy("node")
          .agg(sum("dq").as("bc_micro"))
          .orderBy(desc("bc_micro"), asc("node"))
          .limit(20)
          .select(col("node"), col("bc_micro"),
            round(col("bc_micro") / 1.0e6, 4).as("betweenness"))
      },
      oracle = Some("""
        WITH RECURSIVE li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj AS (SELECT u AS n, v AS m FROM e
                UNION ALL SELECT v AS n, u AS m FROM e),
        srcs AS (SELECT n FROM (SELECT DISTINCT n FROM adj)
                 ORDER BY n LIMIT 5),
        walk(src, n, d) AS (
          SELECT n, n, 0 FROM srcs
          UNION ALL
          SELECT w.src, adj.m, w.d + 1 FROM walk w
          JOIN adj ON adj.n = w.n WHERE w.d < 4),
        dist AS (SELECT src, n, min(d) AS d FROM walk GROUP BY src, n),
        sp AS (
          SELECT w.src, w.n, dist.d, count(*) AS sig
          FROM walk w JOIN dist
            ON dist.src = w.src AND dist.n = w.n AND w.d = dist.d
          GROUP BY w.src, w.n, dist.d),
        l4 AS (SELECT src, n, sig, CAST(0 AS BIGINT) AS dq
               FROM sp WHERE d = 4),
        l3 AS (
          SELECT c.src, c.n, c.sig,
                 CAST(coalesce(sum((c.sig * (1000000 + w.dq)) // w.sig), 0)
                   AS BIGINT) AS dq
          FROM sp c
          LEFT JOIN adj a ON a.n = c.n
          LEFT JOIN l4 w ON w.src = c.src AND w.n = a.m
          WHERE c.d = 3 GROUP BY c.src, c.n, c.sig),
        l2 AS (
          SELECT c.src, c.n, c.sig,
                 CAST(coalesce(sum((c.sig * (1000000 + w.dq)) // w.sig), 0)
                   AS BIGINT) AS dq
          FROM sp c
          LEFT JOIN adj a ON a.n = c.n
          LEFT JOIN l3 w ON w.src = c.src AND w.n = a.m
          WHERE c.d = 2 GROUP BY c.src, c.n, c.sig),
        l1 AS (
          SELECT c.src, c.n, c.sig,
                 CAST(coalesce(sum((c.sig * (1000000 + w.dq)) // w.sig), 0)
                   AS BIGINT) AS dq
          FROM sp c
          LEFT JOIN adj a ON a.n = c.n
          LEFT JOIN l2 w ON w.src = c.src AND w.n = a.m
          WHERE c.d = 1 GROUP BY c.src, c.n, c.sig),
        alldq AS (
          SELECT n, dq FROM l1 UNION ALL SELECT n, dq FROM l2
          UNION ALL SELECT n, dq FROM l3 UNION ALL SELECT n, dq FROM l4)
        SELECT node, bc_micro,
               round(bc_micro / 1000000.0, 4) AS betweenness
        FROM (
          SELECT n AS node, CAST(sum(dq) AS BIGINT) AS bc_micro
          FROM alldq GROUP BY n)
        ORDER BY bc_micro DESC, node LIMIT 20""")),

    // Community detection by synchronous label propagation over the
    // co-purchase graph: 3 rounds of most-frequent-neighbor-label with
    // ties to the smallest label (api.Graph.labelPropagationOnAdjacency
    // over the shared urgent_copurchase_adj layout). Unlike
    // connected components (the whole urgent graph is one component),
    // LPA's FREQUENCY rule lets dense order-clusters keep their own
    // label across thin bridges — the community census below is the
    // readout. Fully deterministic (integer counts, total tie order,
    // synchronous rounds), so the oracle replays the exact fixpoint
    // prefix unrolled ([[lpaCtes]], the pagerankCtes doctrine): no
    // convergence handwave, the round count IS the contract. Top-20 cut
    // is total-ordered (label unique per community row).
    Q(
      "graph_label_propagation",
      (s, dir) => Graph.labelPropagationOnAdjacency(
          urgentCoPurchaseAdj(s, dir).df, rounds = LpaRounds)
        .groupBy("label").agg(count(lit(1)).as("n_members"))
        .orderBy(desc("n_members"), asc("label"))
        .limit(20),
      oracle = Some(s"""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj AS (SELECT u AS n, v AS m FROM e
                UNION ALL SELECT v AS n, u AS m FROM e),
        ${lpaCtes(LpaRounds)}
        SELECT label, count(*) AS n_members
        FROM lp_r$LpaRounds
        GROUP BY label ORDER BY n_members DESC, label LIMIT 20""")),

    // Bounded-round k-core peel of the co-purchase graph: the census
    // (round, n_nodes, n_edges) of what survives each synchronous
    // degree-<k sweep — the standard dense-subgraph extraction before
    // any community or motif work, and the cheapest way to discard the
    // degree-1 tail that dominates co-occurrence graphs at scale. Fixed
    // round count = deterministic trajectory = full unrolled SQL replay
    // (api.Graph.kCorePeel; pagerankCtes doctrine).
    Q(
      "graph_kcore",
      (s, dir) => Graph.kCorePeel(
          urgentCoPurchaseEdges(s, dir), k = KcoreK, rounds = KcoreRounds)
        .orderBy("round"),
      oracle = Some(s"""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        ${kcoreCtes(KcoreK, KcoreRounds)}
        SELECT round, n_nodes, n_edges FROM (
          ${kcoreCensus(KcoreRounds)})
        ORDER BY round""")),

    // Degree assortativity (Newman's r) of the co-purchase graph: the
    // Pearson correlation of endpoint degrees over the symmetrized edge
    // list — positive = hubs attach to hubs (social shape), negative =
    // hub-and-spoke (star shape). One map-combined degree count, then
    // the node-sized degree table joins the edge stream twice on its
    // clustered endpoint keys; the symmetric orientation makes
    // Σx = Σy and Σx² = Σy², so three exact decimal moment sums feed
    // one shared-structure double r (agg_moments discipline — no float
    // accumulation order anywhere).
    // HyperANF (Boldi–Rosa–Vigna 2011) on the co-purchase graph: the
    // neighborhood function N(h) = Σ_v |ball(v, h)| estimated by ONE
    // per-node HLL sketch max-merged along edges per round — the
    // algorithm that measures a web-scale graph's distance distribution
    // without BFS from every node. Sketches are RELATIONAL here: the
    // codegen graft_hll_register expression turns each node into its
    // (idx, rank) register row, and a round is adj ⋈ regs → groupBy
    // (node, idx) → max(rank) — per-round cost E·|regs|, state
    // m-bounded per node, exactly the shape that scales. The key is its
    // own audit (the lsh_audit discipline, including its SAMPLE valve):
    // exact N(1) is |adj| (free); the h = 2 audit — exact distinct-pair
    // expansion, the quadratic thing HyperANF exists to avoid — runs on
    // the deterministic 10% node sample (node % 10 = 0), with the HLL
    // side summed over the same sample so the permille error compares
    // like with like (full-costing found the unsampled audit leg was
    // 30 of the key's 32 seconds). Determinism: registers are SplitMix64 integers (ranks
    // capped at 63 — see HllRegister), inverse-power sums are exact
    // integers in 2⁻⁶³ units (never a float accumulation), and the two
    // final doubles (raw estimate, linear-counting branch) are one
    // fixed expression tree — so the whole two-round fixpoint, estimate
    // arithmetic included, replays in SQL via the udaf_hll hash chain.
    Q(
      "graph_anf_hll",
      (s, dir) => {
        val adj0 = urgentCoPurchaseAdj(s, dir).df
        val nodes = adj0.select(col("n")).distinct()
        val adj = Cut(adj0
          .unionAll(nodes.select(col("n"), col("n").as("m")))).df
        val r0 = nodes
          .select(col("n").as("node"),
            graft.functions.HllRegister(col("n")).as("pk"))
          .select(col("node"),
            expr("CAST(pk div 256 AS INT)").as("idx"),
            expr("CAST(pk % 256 AS INT)").as("reg"))
        def step(regs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = adj
          .join(regs.withColumnRenamed("node", "m"), "m")
          .groupBy(col("n").as("node"), col("idx"))
          .agg(max("reg").as("reg"))
        val r1 = Cut(step(r0)).df
        val r2 = step(r1)
        val p63 = "CAST('9223372036854775808' AS decimal(38,0))"
        def nEst(regs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = regs
          .groupBy("node")
          .agg(sum(expr(
              "CAST(shiftleft(CAST(1 AS BIGINT), 63 - reg) " +
                "AS decimal(38,0))"))
              .as("inv_int"),
            count(lit(1)).as("m_nz"))
          .withColumn("raw",
            expr("(0.7213 / (1.0 + 1.079 / 4096)) * 4096.0 * 4096.0 " +
              s"* 9223372036854775808.0 / CAST(inv_int + " +
              s"(4096 - m_nz) * $p63 AS DOUBLE)"))
          .select(when(col("raw") <= 10240.0 && col("m_nz") < 4096,
              round(lit(4096.0) *
                log(lit(4096.0) / (lit(4096L) - col("m_nz"))
                  .cast("double"))))
            .otherwise(round(col("raw"))).cast("long").as("est"))
          .agg(sum("est").as("hll_pairs"))
        val ex1 = adj.agg(count(lit(1)).as("exact_pairs"))
        val ex2 = adj.filter(col("n") % 10 === 0)
          .select(col("n").as("a"), col("m").as("b"))
          .join(adj.select(col("n").as("b"), col("m").as("c")), "b")
          .select("a", "c").distinct()
          .agg(count(lit(1)).as("exact_pairs"))
        def rowFor(h: Int, ex: org.apache.spark.sql.DataFrame,
            est: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          ex.crossJoin(est).select(lit(h).as("h"), col("exact_pairs"),
            col("hll_pairs"),
            expr("1000 * abs(hll_pairs - exact_pairs) div exact_pairs")
              .as("err_pm"))
        rowFor(1, ex1, nEst(r1))
          .unionAll(rowFor(2, ex2,
            nEst(r2.filter(col("node") % 10 === 0))))
          .orderBy("h")
      },
      oracle = Some {
        val p63 = "CAST('9223372036854775808' AS HUGEINT)"
        s"""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj0 AS (SELECT u AS n, v AS m FROM e
                 UNION ALL SELECT v AS n, u AS m FROM e),
        vtx AS (SELECT DISTINCT n FROM adj0),
        adj AS (SELECT * FROM adj0 UNION ALL SELECT n, n FROM vtx),
        ${Udx.hllCtes("a", "SELECT n AS node, n AS v FROM vtx", "node")},
        r0 AS (SELECT node, idx, least(reg, 63) AS reg FROM aregs),
        r1 AS MATERIALIZED (
          SELECT adj.n AS node, r.idx, max(r.reg) AS reg
          FROM adj JOIN r0 r ON r.node = adj.m GROUP BY 1, 2),
        r2 AS MATERIALIZED (
          SELECT adj.n AS node, r.idx, max(r.reg) AS reg
          FROM adj JOIN r1 r ON r.node = adj.m GROUP BY 1, 2),
        est1 AS (
          SELECT CAST(sum(est) AS BIGINT) AS hll_pairs FROM (
            SELECT CASE WHEN raw <= 10240.0 AND m_nz < 4096
                   THEN CAST(round(4096.0 * ln(4096.0
                     / CAST(4096 - m_nz AS DOUBLE))) AS BIGINT)
                   ELSE CAST(round(raw) AS BIGINT) END AS est
            FROM (
              SELECT node, m_nz,
                     (0.7213 / (1.0 + 1.079 / 4096)) * 4096.0 * 4096.0
                       * 9223372036854775808.0
                       / CAST(inv_int + (4096 - m_nz) * $p63 AS DOUBLE)
                       AS raw
              FROM (
                SELECT node,
                       sum(((CAST(1 AS BIGINT) << (63 - reg))::HUGEINT))
                         AS inv_int,
                       count(*) AS m_nz
                FROM r1 GROUP BY node)))),
        est2 AS (
          SELECT CAST(sum(est) AS BIGINT) AS hll_pairs FROM (
            SELECT CASE WHEN raw <= 10240.0 AND m_nz < 4096
                   THEN CAST(round(4096.0 * ln(4096.0
                     / CAST(4096 - m_nz AS DOUBLE))) AS BIGINT)
                   ELSE CAST(round(raw) AS BIGINT) END AS est
            FROM (
              SELECT node, m_nz,
                     (0.7213 / (1.0 + 1.079 / 4096)) * 4096.0 * 4096.0
                       * 9223372036854775808.0
                       / CAST(inv_int + (4096 - m_nz) * $p63 AS DOUBLE)
                       AS raw
              FROM (
                SELECT node,
                       sum(((CAST(1 AS BIGINT) << (63 - reg))::HUGEINT))
                         AS inv_int,
                       count(*) AS m_nz
                FROM r2 WHERE node % 10 = 0 GROUP BY node)))),
        ex1 AS (SELECT count(*) AS exact_pairs FROM adj),
        ex2 AS (
          SELECT count(*) AS exact_pairs FROM (
            SELECT DISTINCT a.n AS x, b.m AS y
            FROM adj a JOIN adj b ON b.n = a.m
            WHERE a.n % 10 = 0))
        SELECT CAST(1 AS INT) AS h, ex1.exact_pairs, est1.hll_pairs,
               1000 * abs(est1.hll_pairs - ex1.exact_pairs)
                 // ex1.exact_pairs AS err_pm
        FROM ex1, est1
        UNION ALL
        SELECT CAST(2 AS INT), ex2.exact_pairs, est2.hll_pairs,
               1000 * abs(est2.hll_pairs - ex2.exact_pairs)
                 // ex2.exact_pairs
        FROM ex2, est2
        ORDER BY h"""
      }),

    Q(
      "graph_assortativity",
      (s, dir) => {
        val adj = urgentCoPurchaseAdj(s, dir).df
        val deg = adj.groupBy("n").agg(count(lit(1)).as("d"))
        val d = (c: org.apache.spark.sql.Column) =>
          c.cast("decimal(18,0)")
        val p = adj
          .join(deg.select(col("n"), col("d").as("dn")), "n")
          .join(deg.select(col("n").as("m"), col("d").as("dm")), "m")
        val mo = p.agg(count(lit(1)).as("ne"),
          sum(d(col("dn"))).cast("double").as("sx"),
          sum(d(col("dn")) * d(col("dm"))).cast("double").as("sxy"),
          sum(d(col("dn")) * d(col("dn"))).cast("double").as("sxx"))
        val nd = col("ne").cast("double")
        mo.select((col("ne") / 2).cast("long").as("n_edges"),
          round((nd * col("sxy") - col("sx") * col("sx")) /
            (nd * col("sxx") - col("sx") * col("sx")), 4)
            .as("assortativity"))
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj AS (SELECT u AS n, v AS m FROM e
                UNION ALL SELECT v AS n, u AS m FROM e),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
                FROM adj GROUP BY n),
        p AS (
          SELECT dn.d AS dn, dm.d AS dm
          FROM adj a JOIN deg dn ON a.n = dn.n
                     JOIN deg dm ON a.m = dm.n),
        mo AS (
          SELECT CAST(count(*) AS BIGINT) AS ne,
                 CAST(sum(dn) AS DOUBLE) AS sx,
                 CAST(sum(dn * dm) AS DOUBLE) AS sxy,
                 CAST(sum(dn * dn) AS DOUBLE) AS sxx
          FROM p)
        SELECT ne // 2 AS n_edges,
               round((CAST(ne AS DOUBLE) * sxy - sx * sx) /
                 (CAST(ne AS DOUBLE) * sxx - sx * sx), 4)
                 AS assortativity
        FROM mo""")),

    // Newman modularity Q of the LPA communities — the quality readout
    // that closes the community-detection loop: did label propagation
    // find real structure (Q > 0: more intra-community edges than a
    // degree-preserving random graph) or noise (Q ≈ 0)? Reuses the
    // EXACT graph_label_propagation fixpoint (same rounds, same tie
    // rule, same lpaCtes replay in the oracle — the two keys can never
    // certify different partitions). Everything is counting: each
    // labeled edge feeds the per-community degree sum (explode of the
    // two endpoint labels, map-combined) and the intra-edge count;
    // Q = (4m·intra − Σ D_c²)/(4m²) with the numerator exact in
    // decimal(38,0) (D_c ≤ 2m, so Σ D_c² ≤ 4m² — inside decimal38 to
    // m ≈ 1e9 edges) and ONE shared-structure double division at the
    // end. The label frame is localCheckpoint'd once: three consumers
    // (two endpoint joins) must not re-run the 3-round chain.
    Q(
      "graph_modularity",
      (s, dir) => {
        val e = urgentCoPurchaseEdges(s, dir)
        // labelPropagation returns a materialized (localCheckpoint) leaf
        // since r18, so the three consumers below never re-run the
        // 3-round chain — no second checkpoint needed here.
        val labels = Graph.labelPropagationOnAdjacency(
            urgentCoPurchaseAdj(s, dir).df, rounds = LpaRounds)
        Graph.modularity(e, labels)
      },
      oracle = Some(s"""
        WITH li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj AS (SELECT u AS n, v AS m FROM e
                UNION ALL SELECT v AS n, u AS m FROM e),
        ${lpaCtes(LpaRounds)},
        el AS (
          SELECT a.label AS lu, b.label AS lv
          FROM e JOIN lp_r$LpaRounds a ON a.n = e.u
                 JOIN lp_r$LpaRounds b ON b.n = e.v),
        dc AS (
          SELECT label, CAST(count(*) AS BIGINT) AS dsum FROM (
            SELECT lu AS label FROM el
            UNION ALL SELECT lv AS label FROM el) GROUP BY label),
        lc AS (
          SELECT lu AS label, CAST(count(*) AS BIGINT) AS lcnt
          FROM el WHERE lu = lv GROUP BY lu),
        f AS (
          SELECT d.dsum, coalesce(l.lcnt, 0) AS lcnt
          FROM dc d LEFT JOIN lc l ON l.label = d.label),
        t AS (
          SELECT CAST(sum(dsum) AS BIGINT) // 2 AS m,
                 count(*) AS ncomm,
                 CAST(sum(lcnt) AS BIGINT) AS intra,
                 sum(CAST(dsum AS DECIMAL(19,0)) * dsum) AS sd2
          FROM f)
        SELECT m AS n_edges, ncomm AS n_communities,
               intra AS intra_edges,
               round((4.0 * m * intra - CAST(sd2 AS DOUBLE)) /
                 ((2.0 * m) * (2.0 * m)), 4) AS modularity
        FROM t""")),

    // Weighted sampling without replacement (A-ES / Efraimidis-Spirakis):
    // each doc draws a deterministic pseudo-uniform u from the Knuth
    // multiplicative hash of its id, and the top-k by ln(u)/weight are
    // the weighted sample — longer documents proportionally likelier.
    // Engine-portable like sample_stratified: NO engine RNG, both sides
    // compute identical doubles, and the cut orders on the rounded key.
    Q(
      "sample_weighted",
      (s, dir) => {
        val u = (((col("doc_id") * 2654435761L) % 1000003L) + 1L)
          .cast("double") / 1000004.0
        val score = log(u) / col("n_chars").cast("double")
        Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"),
            round(score, 9).as("es_key"))
          .orderBy(col("es_key").desc, col("doc_id"))
          .limit(50)
      },
      oracle = Some("""
        SELECT doc_id, n_chars,
               round(ln((((doc_id * 2654435761) % 1000003) + 1)
                        / 1000004.0) /
                     CAST(n_chars AS DOUBLE), 9) AS es_key
        FROM documents
        ORDER BY es_key DESC, doc_id
        LIMIT 50""")),

    // Per-group weighted reservoir (A-ES per source): the distributed
    // form of reservoir sampling — each group keeps its top-5 docs by
    // the Efraimidis-Spirakis key, so quota enforcement runs in ONE
    // window pass, partition-parallel across groups. Same deterministic
    // pseudo-uniform as sample_weighted (Knuth hash, no engine RNG);
    // at 100 TB this is rank-per-partition work with no global sort —
    // per-group top-k never aggregates across groups.
    Q(
      "sample_reservoir_group",
      (s, dir) => {
        val u = (((col("doc_id") * 2654435761L) % 1000003L) + 1L)
          .cast("double") / 1000004.0
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("es_key").desc, col("doc_id"))
        Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars"),
            round(log(u) / col("n_chars").cast("double"), 9).as("es_key"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("source"), col("rank"), col("doc_id"),
            col("n_chars"), col("es_key"))
          .orderBy("source", "rank")
      },
      oracle = Some("""
        WITH scored AS (
          SELECT source, doc_id, n_chars,
                 round(ln((((doc_id * 2654435761) % 1000003) + 1)
                          / 1000004.0) /
                       CAST(n_chars AS DOUBLE), 9) AS es_key
          FROM documents),
        ranked AS (
          SELECT source, doc_id, n_chars, es_key,
                 row_number() OVER (PARTITION BY source
                   ORDER BY es_key DESC, doc_id) AS rank
          FROM scored)
        SELECT source, rank, doc_id, n_chars, es_key
        FROM ranked WHERE rank <= 5 ORDER BY source, rank""")),

    // Deterministic train/val/test split — the LAST step every training
    // corpus takes: the Knuth-hash permille of the id assigns 80/10/10
    // splits, so membership is engine-portable, reproducible, and stable
    // under repartitioning (same property as sample_stratified). The
    // split is a pure projection — at 100 TB it costs one scan, and any
    // engine (Spark today, something else tomorrow) reproduces the
    // exact same membership from the ids alone.
    Q(
      "sample_split",
      (s, dir) => {
        val permille = (col("doc_id") * 2654435761L) % 1000L
        val split = when(permille < 800, "train")
          .when(permille < 900, "val").otherwise("test")
        Tables.documents(s, dir)
          .select(split.as("split"), col("doc_id"), col("n_chars"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_doc"))
          .orderBy("split")
      },
      oracle = Some("""
        SELECT CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
                    WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_doc
        FROM documents
        GROUP BY 1 ORDER BY split""")),

    // Deterministic A/B experiment assignment + sample-ratio-mismatch
    // audit — the assignment layer every online experiment needs and the
    // first thing a data platform must prove about it: the arm is the
    // Knuth-hash permille of user_id (engine-portable, reproducible,
    // repartition-stable — the sample_split doctrine applied to
    // experimentation), and the SRM chi-square statistic
    // (nA−nB)²/(nA+nB) over assigned-user counts is the standard
    // health check that the hash actually split 50/50 (a skewed split
    // means a biased experiment, the most common silent A/B failure).
    // One scan: per-arm user/event/conversion counts are a single
    // hash-agg; every count is an exact integer, and the two floats
    // (conversion rate, chi2) are each ONE double division from exact
    // integers, identically replayed by the oracle.
    Q(
      "sample_ab_assign",
      (s, dir) => {
        // Overflow-free Knuth hash: reduce user_id mod a sub-2^30 prime
        // BEFORE the 2654435761 multiply (raw product overflows Long for
        // user_id ≳ 3.5e9 — ANSI Spark throws, DuckDB errors, and the
        // pre-r14 sign-preserving % would have routed any wrapped id to
        // arm A). pmod-of-pmod keeps every intermediate in [0, 2.66e18]
        // and is the identity hash for all ids below the prime, so the
        // fixture-scale assignment (and oracle hash) is unchanged.
        val arm = when(
          pmod(pmod(col("user_id"), lit(1000000007L)) * 2654435761L,
            lit(1000L)) < 500, "A")
          .otherwise("B")
        val g = Tables.events(s, dir)
          .select(arm.as("arm"), col("user_id"), col("event_type"))
          .groupBy("arm")
          .agg(countDistinct(col("user_id")).as("n_users"),
            count(lit(1)).as("n_events"),
            sum(when(col("event_type") === "buy", 1L).otherwise(0L))
              .as("n_buys"))
        val srm = g.agg(
          sum(when(col("arm") === "A", col("n_users")).otherwise(0L))
            .as("na"),
          sum(when(col("arm") === "B", col("n_users")).otherwise(0L))
            .as("nb"))
          .select(round(
            (col("na") - col("nb")) * (col("na") - col("nb")) /
              (col("na") + col("nb")).cast("double"), 6).as("srm_chi2"))
        g.crossJoin(broadcast(srm))
          .select(col("arm"), col("n_users"), col("n_events"), col("n_buys"),
            round(col("n_buys") / col("n_users").cast("double"), 6)
              .as("buys_per_user"),
            col("srm_chi2"))
          .orderBy("arm")
      },
      oracle = Some("""
        WITH g AS (
          SELECT CASE WHEN ((user_id % 1000000007) * 2654435761) % 1000 < 500
                      THEN 'A' ELSE 'B' END AS arm,
                 count(DISTINCT user_id) AS n_users,
                 count(*) AS n_events,
                 CAST(sum(CASE WHEN event_type = 'buy' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_buys
          FROM events GROUP BY 1),
        s AS (
          SELECT round(
              (sum(CASE WHEN arm = 'A' THEN n_users ELSE 0 END)
               - sum(CASE WHEN arm = 'B' THEN n_users ELSE 0 END)) ^ 2
              / CAST(sum(n_users) AS DOUBLE), 6) AS srm_chi2
          FROM g)
        SELECT arm, n_users, n_events, n_buys,
               round(n_buys / CAST(n_users AS DOUBLE), 6) AS buys_per_user,
               srm_chi2
        FROM g, s ORDER BY arm""")),

    // Poisson bootstrap WITHOUT engine RNG — uncertainty for a corpus
    // statistic at any scale: each of 8 replicates draws every row a
    // Poisson(1) replication weight from the Knuth-hash pseudo-uniform
    // of (event_id, replicate) pushed through the inverse CDF as
    // integer-millionth thresholds, so membership is reproducible
    // across engines, partitionings, and reruns (the sample_split
    // doctrine — a resample is a deterministic FUNCTION of the id, not
    // a draw). Replicate 0 is the unweighted point estimate. The ×9
    // fan-out happens map-side before the per-replicate combine; the
    // shuffle carries 9 aggregate rows at any corpus size. The spread
    // of the 8 replicate means IS the bootstrap standard error of the
    // mean — the error bar every dataset-card statistic should carry
    // (measured 0.445 vs σ/√n = 0.491 at sf0.01 — consistent at 8
    // replicates). One deliberate property: the Knuth hash over dense
    // ids is a LOW-DISCREPANCY sequence, so each replicate's total
    // weight concentrates at n (±5 here, vs ±√n for iid Poisson) —
    // the BALANCED bootstrap, which removes the useless n_eff
    // variance component while leaving the weight-to-value assignment
    // (what the SE actually measures) quasi-random.
    Q(
      "sample_bootstrap",
      (s, dir) => {
        // P(Pois(1) ≤ k) in millionths, k = 0..8; u ≥ last ⇒ w = 9.
        val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
          999406L, 999917L, 999990L, 999999L)
        val b = Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("event_id"),
            round(col("value") * 100).cast("long").as("c"),
            explode(sequence(lit(0), lit(8))).as("rep"))
        val u = ((col("event_id") % 1048573L) * 2654435761L +
          col("rep") * 524287L) % 1000000L
        val wPois = cdf.zipWithIndex.foldRight(
          lit(9L): org.apache.spark.sql.Column) {
          case ((t, k), rest) => when(u < t, k.toLong).otherwise(rest)
        }
        val w = when(col("rep") === 0, 1L).otherwise(wPois)
        b.select(col("rep"), col("c"), w.as("wt"))
          .groupBy("rep")
          .agg(sum("wt").as("n_eff"),
            sum(col("wt") * col("c")).as("sc"))
          .select(col("rep").cast("long").as("rep"), col("n_eff"),
            round(col("sc").cast("double") / col("n_eff") / 100.0, 4)
              .as("mean_value"))
          .orderBy("rep")
      },
      oracle = Some("""
        WITH reps AS (SELECT unnest(generate_series(0, 8)) AS rep),
        b AS (
          SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL),
        x AS (
          SELECT rep, c,
                 ((event_id % 1048573) * 2654435761 + rep * 524287)
                   % 1000000 AS u
          FROM b CROSS JOIN reps),
        w AS (
          SELECT rep, c,
                 CASE WHEN rep = 0 THEN 1
                      WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                      WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                      WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
                      WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
                      WHEN u < 999999 THEN 8 ELSE 9 END AS wt
          FROM x),
        g AS (
          SELECT rep, CAST(sum(wt) AS BIGINT) AS n_eff,
                 CAST(sum(wt * c) AS BIGINT) AS sc
          FROM w GROUP BY rep)
        SELECT CAST(rep AS BIGINT) AS rep, n_eff,
               round(CAST(sc AS DOUBLE) / n_eff / 100.0, 4) AS mean_value
        FROM g ORDER BY rep""")),

    // Entity-coherent sampling: keep every event of ~10% of USERS (not
    // 10% of rows), so sampled funnels/sessions/histories stay complete
    // — row sampling (filter_sample_hash) destroys them. Membership is
    // the portable md5-prefix hash of user_id alone: any engine selects
    // the same 12-of-150 users at sf0.01, the filter is map-side only,
    // and two tables sampled on the same key still join coherently.
    // The per-type audit aggregates only sampled rows.
    Q(
      "sample_users_coherent",
      (s, dir) =>
        graft.api.Pipeline.sampleEntities(
          Tables.events(s, dir), col("user_id"), pct = 10)
          .groupBy("event_type")
          .agg(countDistinct("user_id").as("n_users"),
            count(lit(1)).as("n_events"),
            round(sum("value"), 4).as("sum_value"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        WHERE ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                ::BIGINT % 100 < 10
        GROUP BY event_type ORDER BY event_type""")),

    // Weighted shortest paths over the urgent co-purchase graph: edge
    // weight encodes tie strength (1 = co-bought in ≥3 orders … 3 = once),
    // distances from the lowest part id, reported as a histogram. Spark
    // side is 4-round Bellman-Ford (api.Graph.sssp — join + min-agg per
    // round); the oracle enumerates hop-capped weighted walks and takes
    // min(total), which is exactly "shortest among ≤4-edge paths" — the
    // same function the round-capped relaxation computes.
    Q(
      "graph_sssp",
      (s, dir) => {
        val weighted = Cut(urgentCoPurchasePairs(s, dir)
          .groupBy("u", "v")
          .agg(count(lit(1)).as("cnt"))
          .select(col("u"), col("v"),
            when(col("cnt") >= 3, 1L).when(col("cnt") === 2, 2L)
              .otherwise(3L).as("w"))).df
        val source = weighted.agg(min(col("u"))).first().getLong(0)
        Graph.sssp(weighted, col("u"), col("v"), col("w"),
            source, maxHops = 4)
          .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
          .orderBy("dist")
      },
      oracle = Some("""
        WITH RECURSIVE li AS (
          SELECT l_orderkey, l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT'),
        e AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v,
                 CASE WHEN count(*) >= 3 THEN 1
                      WHEN count(*) = 2 THEN 2 ELSE 3 END AS w
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        adj AS (SELECT u AS n, v AS m, w FROM e
                UNION ALL SELECT v AS n, u AS m, w FROM e),
        src AS (SELECT min(u) AS s FROM e),
        walk(n, d, h) AS (
          SELECT s, CAST(0 AS BIGINT), 0 FROM src
          UNION ALL
          SELECT adj.m, w.d + adj.w, w.h + 1 FROM walk w
          JOIN adj ON adj.n = w.n WHERE w.h < 4),
        dd AS (SELECT n, min(d) AS dist FROM walk GROUP BY n)
        SELECT dist, count(*) AS n_nodes
        FROM dd GROUP BY dist ORDER BY dist"""))
  )
}
