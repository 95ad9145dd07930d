package graft.api

import graft.Cut
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph algorithms beyond connected components (Dedup): expressed as
  * iterative join+aggregate rounds with per-round lineage cuts, the
  * same scale discipline as [[Dedup.connectedComponents]].
  *
  * Each kernel reads a [[Graph.Layout]] that only its builder makes, so
  * no kernel re-derives its input or trusts a caller's flag. The
  * undirected kernels share one, [[Graph.Edges]]: the canonical edge set
  * that only [[Graph.undirected]] builds, and its symmetric adjacency
  * (n, m) from [[Graph.adjacency]]. `pageRank` reads [[Graph.RankEdges]]
  * ([[Graph.rankEdges]]) and `hits` reads [[Graph.Bipartite]]
  * ([[Graph.bipartite]]).
  */
object Graph {

  /** Node ids of the packed-long kernels (the triangle orientation and
    * the label-propagation argmax) must lie in [0, 2^IdBits); degrees
    * must stay below 2^(63 − IdBits) = 2^23 so a degree·2^IdBits + id
    * key stays inside a long.
    */
  private val IdBits = 40
  private val IdLimit = 1L << IdBits

  /** An edge layout cut once ([[Cut]]): every kernel reads `df` as often
    * as it likes without re-deriving it, and `rows` sizes its rounds
    * without a count job.
    */
  sealed abstract class Layout(cut: Cut) {
    def df: DataFrame = cut.df
    def rows: Long = cut.rows
  }

  /** A canonical undirected edge set: long columns (u, v) with u < v,
    * one row per edge (distinct), no self-loops, no nulls. Built only by
    * [[undirected]].
    */
  final class Edges private[Graph] (cut: Cut) extends Layout(cut)

  /** PageRank's edge layout: (src, dst), distinct, both directions of
    * every edge when `undirected`, hash-partitioned and sorted on src.
    * Built only by [[rankEdges]].
    */
  final class RankEdges private[Graph] (cut: Cut, val undirected: Boolean)
      extends Layout(cut)

  /** HITS' edge layout: long (c, p) hub→authority rows, distinct, no
    * nulls, hash-partitioned on c. Built only by [[bipartite]].
    */
  final class Bipartite private[Graph] (cut: Cut) extends Layout(cut)

  /** The (u, v) canonical rows of `edges` before the dedup: both
    * endpoints as longs, ordered u < v, self-loops and null endpoints
    * dropped (least/greatest skip a null, so a one-null pair becomes a
    * self-loop), plus `carry` columns. The one copy of the rule, shared
    * by [[undirected]] and the weighted [[sssp]].
    */
  private def canonical(
      edges: DataFrame, src: Column, dst: Column, carry: Column*)
      : DataFrame =
    edges
      .select(Seq(least(src, dst).cast("long").as("u"),
        greatest(src, dst).cast("long").as("v")) ++ carry: _*)
      .filter(col("u") =!= col("v") && col("u").isNotNull)

  /** The canonical undirected edge set of any (src, dst) edge list:
    * duplicates, reversed copies, self-loops and null endpoints are
    * dropped.
    */
  def undirected(edges: DataFrame, src: Column, dst: Column): Edges =
    new Edges(Cut(canonical(edges, src, dst).distinct()))

  /** Both directions of every (u, v) row as (n, m), `carry` columns
    * riding along unchanged.
    */
  private def symmetric(e: DataFrame, carry: Column*): DataFrame =
    e.select(Seq(col("u").as("n"), col("v").as("m")) ++ carry: _*)
      .unionAll(e.select(Seq(col("v").as("n"), col("u").as("m")) ++
        carry: _*))

  /** The symmetric adjacency (n, m) of `edges`: each edge in both
    * directions, so a node's neighbors are the m of its n rows. A plan,
    * not a materialized frame: callers that read it many times cut or
    * partition it themselves.
    */
  def adjacency(edges: Edges): DataFrame = symmetric(edges.df)

  /** Per-node degree (n, d) of a canonical (u, v) edge frame. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))

  /** The degree orientation of a canonical edge frame: (deg, eo) with
    * deg = [[degrees]] and eo = one (lo, hi) row per edge, each endpoint
    * keyed by ord = degree·2^IdBits + id and oriented from the
    * (degree, id)-smaller end to the larger. Wedges enumerated from lo
    * only cost Σ min-deg per edge, not Σ deg² — the hub-safe layout.
    * eo is materialized: every triangle join reads it three times.
    */
  private def oriented(e: DataFrame): (DataFrame, DataFrame) = {
    val deg = degrees(e)
    val eo = Cut(e
      .join(deg.as("du"), col("u") === col("du.n"))
      .join(deg.as("dv"), col("v") === col("dv.n"))
      .select(
        least(col("du.d") * IdLimit + col("u"),
          col("dv.d") * IdLimit + col("v")).as("lo"),
        greatest(col("du.d") * IdLimit + col("u"),
          col("dv.d") * IdLimit + col("v")).as("hi"))).df
    (deg, eo)
  }

  /** PageRank's layout of a (src, dst) edge list, both directions of
    * each edge when `undirected`. Symmetrize FIRST, distinct ONCE: two
    * separate distincts would pay two full edge shuffles for one
    * deduplicated result. Repartition BEFORE distinct:
    * HashPartitioning(src) satisfies the distinct aggregate's
    * ClusteredDistribution(src, dst) (subset rule), so the dedup runs
    * in-partition and the edge set shuffles exactly ONCE. The cut keeps
    * the physical layout (hash-partitioned and sorted on src), so every
    * round's share join reuses it: only the node-sized shares side moves
    * per iteration, never the edges. The cut runs with AQE off, at the
    * session's shuffle width: with AQE on, the coalesced shuffle read
    * would leave the cut with no partitioning. [[pageRank]] joins the
    * layout without a broadcast only above 50M nodes, where its rounds
    * run at the session's conf too ([[quietRounds]]), so the shares side
    * shuffles to the layout's width and the edges stay put.
    */
  def rankEdges(edges: DataFrame, src: Column, dst: Column,
      undirected: Boolean = false): RankEdges = {
    val raw = edges.select(src.as("src"), dst.as("dst"))
    val both = if (undirected)
      raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    else raw
    new RankEdges(graft.Session.withConf(edges.sparkSession,
        "spark.sql.adaptive.enabled" -> "false") {
      Cut(both.repartition(col("src")).distinct().sortWithinPartitions("src"))
    }, undirected)
  }

  /** PageRank over an edge list. Each round: every node splits its rank
    * over its out-edges (rank/deg joins the edge list on src), shares
    * aggregate per dst, dangling mass (no-out-edge nodes) and the
    * teleport term are folded in via a broadcast 1-row aggregate — no
    * driver-side loop over data, one shuffle per round, lineage cut per
    * round so plan size stays bounded.
    *
    * All rank arithmetic is FIXED-POINT: ranks are longs scaled by
    * 1e15, shares and the damping factor use floor division, so every
    * round is order-independent integer math — bit-identical at any
    * parallelism AND replayable in a DuckDB oracle (round 11; the
    * float form's summation-order ulps made the iteration
    * engine-specific). Truncation loses < Σdeg + 2n units (≈1e-9 of
    * total mass) per round, far inside the mass certificate's 1e-6.
    * `damping` must be a multiple of 0.01 (it becomes the integer
    * percentage dNum/100). Output: (id, rank DOUBLE, rank_fp LONG,
    * deg LONG — null for dangling nodes); rank = rank_fp/1e15 exactly
    * (rank_fp < 2^53), summing to ~1. `edges` is directed unless built
    * `undirected` ([[rankEdges]]); a directed graph's nodes without
    * out-edges spread their rank as dangling mass.
    */
  def pageRank(
      edges: RankEdges, iterations: Int = 6,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1)
    val dNum = math.round(damping * 100).toInt
    require(dNum / 100.0 == damping,
      s"damping $damping must be a multiple of 0.01 for fixed-point")
    val undirected = edges.undirected
    val e = edges.df
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // The iterated frame carries (id, deg, rank): deg is static, so
    // folding it in once turns the per-round degree join and the
    // dangling anti-join into plain filters. In the undirected case
    // every node has an out-edge, so the degree table IS the node set —
    // no separate union+distinct pass.
    val nodes = Cut(if (undirected)
      deg.select(col("src").as("id"), col("deg"))
    else
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct()
        .join(deg, col("id") === col("src"), "left")
        .select(col("id"), col("deg")))
    val nodesDeg = nodes.df
    // N parameterizes the teleport term.
    val n = nodes.rows
    val S = 1000000000000000L // 1e15 fixed-point scale
    // Teleport term (1-d)/n in fixed point: a driver-side integer
    // floor, identical to the oracle's (100-dNum)*S // (100*n).
    val teleport = (100L - dNum) * S / (100L * n)
    val hasDangling = !undirected &&
      nodesDeg.filter(col("deg").isNull).limit(1).count() > 0
    var ranks = nodesDeg.withColumn("rank_fp", lit(S / n))
    var round = 0
    // Width the round loop by the EDGE count, not n: the per-round
    // work is the e ⋈ shares join + the dst-keyed aggregate over
    // edge-count rows (the node-sized shares frame is the broadcast
    // side).
    quietRounds(e.sparkSession, math.max(n, edges.rows)) {
    while (round < iterations) {
      val shares = ranks.filter(col("deg").isNotNull)
        .select(col("id").as("share_src"),
          expr("rank_fp div deg").as("share"))
      // The shares side is node-sized — broadcast it so the edge list
      // never moves. SELF-TUNING at scale: n is already counted above,
      // and a rank vector beyond ~50M nodes (~1.2 GB of (long, long)
      // rows) outgrows a sane broadcast — past that, drop the hint and
      // the planner joins against the cut edge layout, which
      // is already hash-partitioned on src (co-partitioned merge join,
      // only the node-sized side shuffles per round).
      val sharesSide = if (n <= 50000000L) broadcast(shares) else shares
      val inbound = e.join(sharesSide, col("src") === col("share_src"))
        .groupBy(col("dst").as("in_id"))
        .agg(sum("share").as("in_share"))
      val base = nodesDeg.join(inbound, col("id") === col("in_id"), "left")
      ranks = if (hasDangling) {
        // Dangling nodes (no out-edges) spread their rank uniformly.
        // The dangling scalar re-reads this round's ranks, so the frame
        // must be materialized per round — otherwise round k's scalar
        // re-executes rounds 1..k-1 (quadratic blowup).
        val dangling = ranks.filter(col("deg").isNull)
          .agg(coalesce(sum("rank_fp"), lit(0L)).as("dm"))
        Cut(base.crossJoin(broadcast(dangling))
          .select(col("id"), col("deg"),
            (lit(teleport) + expr(
              s"($dNum * (coalesce(in_share, 0L) + (dm div $n))) div 100"))
              .as("rank_fp"))).df
      } else {
        // No dangling scalar here, but STILL materialize per round:
        // each round's broadcast(shares) runs as its own job, and an
        // unmaterialized chain makes round k's broadcast subtree
        // re-execute rounds 1..k-1 — O(k²/2) round-units instead of k
        // (measured: 5 rounds at sf0.1 dropped ~4.2 s → ~2.7 s with
        // the cut; the pre-r11 "one fused job" reading missed the
        // broadcast-side re-execution).
        Cut(base.select(col("id"), col("deg"),
          (lit(teleport) +
            expr(s"($dNum * coalesce(in_share, 0L)) div 100"))
            .as("rank_fp"))).df
      }
      round += 1
    }
    }
    // deg rides along (null for dangling nodes) so callers can derive
    // the truncation-loss bound iterations·(Σdeg + 2n) from the SAME
    // 1-row aggregate that checks mass — a fixed tolerance would go
    // stale as the corpus grows (ADVICE r11: at ~1e9 edges the loss
    // exceeds a hard-coded 1e9 units even though the algorithm is
    // correct).
    ranks.select(col("id"),
      (col("rank_fp").cast("double") / S).as("rank"), col("rank_fp"),
      col("deg"))
  }

  /** Exact triangle/wedge census of an undirected graph. Returns one
    * row: (n_nodes, n_edges, n_wedges, n_triangles, transitivity =
    * 3T/W).
    *
    * Algorithm: orient every edge from its (degree, id)-smaller
    * endpoint to the larger ([[oriented]]), then count out-wedges (pairs
    * of out-neighbors) and close them with a semi-join back on the edge
    * list. Each triangle is found exactly once (at its order-minimal
    * vertex), and the wedge-join size is Σ out-deg², which the degree
    * orientation bounds by Σ min-deg(u,v) per edge — on skewed graphs
    * (the 100 TB case) this is the difference between the hub node
    * exploding quadratically and the join staying linear-ish. Endpoint
    * order keys pack (degree, id) into one long so every join/compare
    * runs on 8-byte keys: node ids must lie in [0, 2^40) and degrees
    * below 2^23.
    */
  def triangleStats(edges: Edges): DataFrame = {
    val e = edges.df
    val (deg, eo) = oriented(e)
    val paths = eo.as("e1")
      .join(eo.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.hi").as("b"), col("e2.hi").as("c"))
    val tri = paths
      .join(eo.as("e3"),
        col("b") === col("e3.lo") && col("c") === col("e3.hi"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val census = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(d * (d - 1)) div 2").as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    census.crossJoin(nEdges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 4)
          .as("transitivity"))
  }

  /** Per-node local clustering coefficient, exact: n_tri(v) triangles
    * through each node and lcc = 2·n_tri / (d·(d−1)) emitted as an exact
    * integer permyriad (floor), so the readout replays bit-identically in
    * any engine — no float ratio in the output.
    *
    * Same degree-orientation discipline as [[triangleStats]]: wedges are
    * enumerated from the lower-(degree,id) endpoint only, so the join
    * fan-out per node is min-degree-bounded (Σ min-deg², not Σ deg² —
    * the hub-safe layout at 100 TB). Each triangle is produced exactly
    * once as an (a,b,c) ord-triple; corners are exploded and counted,
    * which multiplies rows by 3 on triangle-count-sized data only.
    * Node ids must lie in [0, 2^40) and degrees below 2^23 (the ord
    * packing).
    */
  def localClustering(edges: Edges): DataFrame = {
    val (deg, eo) = oriented(edges.df)
    val triples = eo.as("e1")
      .join(eo.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"),
        col("e2.hi").as("c"))
      .join(eo.as("e3"),
        col("b") === col("e3.lo") && col("c") === col("e3.hi"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("ord"))
    val triPerNode = triples
      .select((col("ord") % IdLimit).as("n"))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.join(triPerNode, Seq("n"), "left")
      .select(col("n").as("node"), col("d"),
        coalesce(col("t"), lit(0L)).as("n_tri"))
      .withColumn("lcc_pm",
        when(col("d") >= 2,
          expr("(2 * n_tri * 10000) div (d * (d - 1))"))
          .otherwise(lit(0L)))
  }

  /** Single-source shortest paths with integer edge weights —
    * Bellman-Ford limited to `maxHops` relaxation rounds, so the
    * result is the exact shortest distance among paths of ≤ maxHops
    * edges (matching a depth-capped path-enumeration oracle). Each
    * round is one join + one min-aggregate, both keyed on the node —
    * the iterative-join shape that scales linearly in edges where
    * path enumeration explodes. Weighted, so it canonicalizes its own
    * (u, v, w) rows instead of taking an [[Edges]].
    */
  def sssp(
      edges: DataFrame, src: Column, dst: Column, weight: Column,
      source: Long, maxHops: Int = 4): DataFrame = {
    // Parallel edges keep their lightest weight.
    val e = canonical(edges, src, dst, weight.cast("long").as("w"))
      .groupBy("u", "v").agg(min(col("w")).as("w"))
    val adjCut = Cut(symmetric(e, col("w")))
    val adj = adjCut.df
    val sp = edges.sparkSession
    import sp.implicits._
    // The one-row seed is a local relation: it needs no cut.
    var dist = Seq((source, 0L)).toDF("node", "dist")
      .select(col("node").cast("long").as("node"), col("dist"))
    var hop = 0
    quietRounds(sp, adjCut.rows) {
      while (hop < maxHops) {
        val cand = dist.join(adj, dist("node") === adj("n"))
          .select(col("m").as("node"),
            (col("dist") + col("w")).as("dist"))
        dist = Cut(dist.unionAll(cand)
          .groupBy("node").agg(min(col("dist")).as("dist"))).df
        hop += 1
      }
    }
    dist
  }

  /** Single-source BFS hop distances: (node, dist) for every node within
    * `maxHops` of `source` — the [[multiSourceBfs]] loop with one
    * source and the frontier keyed by node alone. Without a src_id key
    * the optimizer pushes the visited anti-join down onto the adjacency
    * scan and reuses the frontier broadcast for it; a src_id-keyed run
    * of one source costs one more job and a stage more per round.
    */
  def bfs(edges: Edges, source: Long, maxHops: Int = 4): DataFrame =
    frontierBfs(edges, Seq(source), maxHops, Seq("node"))

  /** Multi-source BFS: one frontier keyed by (source, node) explores
    * all sources SIMULTANEOUSLY — the per-round join cost is one
    * adjacency shuffle regardless of how many sources ride in the
    * frontier, which is what makes landmark/centrality passes
    * (closeness over a seed set, landmark distance features) feasible
    * at scale: k sequential BFS runs would pay k× the per-round fixed
    * cost, the composite frontier pays it once. Returns (src_id, node,
    * dist) for every node within maxHops of each source (dist 0 = the
    * source itself).
    */
  def multiSourceBfs(
      edges: Edges, sources: Seq[Long], maxHops: Int = 4): DataFrame =
    frontierBfs(edges, sources, maxHops, Seq("src_id", "node"))

  /** The one frontier loop of [[bfs]] and [[multiSourceBfs]]: rows are
    * `key` columns (the source's id, then the reached node) plus dist.
    * Proper frontier BFS — each round joins ONLY the new frontier
    * against the adjacency list and anti-joins the visited set, so
    * total work is O(edges touched), not O(paths) (the exponential
    * blowup a naive path-enumeration pays). Frontiers are cut ([[Cut]])
    * so round N+1's lineage doesn't re-run rounds 1..N; the loop exits
    * early when a frontier empties (one cheap limit-1 action per round,
    * bounded by maxHops).
    */
  private def frontierBfs(edges: Edges, sources: Seq[Long], maxHops: Int,
      key: Seq[String]): DataFrame = {
    val adjCut = Cut(adjacency(edges))
    val adj = adjCut.df
    val sp = adj.sparkSession
    import sp.implicits._
    // The seed rows are a local relation: they need no cut.
    var visited = sources.map((_, 0)).toDF("node", "dist")
      .select(key.map(col("node").cast("long").as(_)) :+ col("dist"): _*)
    var frontier = visited
    var hop = 1
    quietRounds(sp, adjCut.rows) {
      while (hop <= maxHops && !frontier.isEmpty) {
        val next = Cut(frontier.join(adj, frontier("node") === adj("n"))
          .select(key.init.map(col) :+ col("m").as("node"): _*).distinct()
          .join(visited, key, "left_anti")
          .withColumn("dist", lit(hop))).df
        // No cut on visited: it is a union of already-cut frontiers,
        // so its lineage is flat — cutting it again would only add a
        // job per round.
        visited = visited.unionAll(next)
        frontier = next
        hop += 1
      }
    }
    visited
  }

  /** Synchronous label-propagation communities (LPA) of `edges`: the
    * [[labelPropagationOnAdjacency]] fixpoint over its
    * [[adjacency]].
    */
  def labelPropagation(edges: Edges, rounds: Int = 3): DataFrame =
    labelPropagationOnAdjacency(adjacency(edges), rounds)

  /** Synchronous label-propagation communities (LPA): labels start as
    * node ids; each round every node adopts the most frequent label
    * among its NEIGHBORS, ties broken toward the smallest label. The
    * frequency rule (not min-label) is what separates this from
    * connected components: dense clusters converge to one label even
    * when a thin bridge keeps the whole graph connected. Fully
    * deterministic — integer counts, total tie order, synchronous
    * rounds — so a fixed round count replays bit-identically in any
    * engine. Per round: one join (labels shuffled onto the adjacency,
    * which never moves when pre-partitioned on n), one map-combined
    * (node, label) count, one map-combined per-node packed-long-min
    * argmax — no sort, no window. State is one row per node.
    * No per-round checkpoint (that would add a driver round-trip and
    * a label-frame materialization per round — costly at cluster
    * scale): the whole fixed-round fixpoint executes as ONE job
    * inside a quietRounds scope with ReuseExchange deduping the
    * adjacency shuffle, and only the RESULT is materialized (returned
    * as a [[Cut]] leaf), so multi-consumer callers never
    * re-run the chain. Returns (n, label).
    *
    * `adj` is the symmetric adjacency (n, m) of an [[Edges]] as
    * [[adjacency]] derives it — every edge in both directions, no
    * self-loops, no duplicates — optionally partitioned on n and
    * materialized (a shared per-(session, dir) layout). An asymmetric
    * or duplicated adjacency counts the wrong neighbor labels.
    *
    * Contract (the packed-long argmax): node ids in [0, 2^40) and
    * degrees below 2^23. The id range is checked — an id outside it
    * throws IllegalArgumentException — by the same one-row aggregate
    * that sizes the rounds, so the check adds no job.
    */
  def labelPropagationOnAdjacency(
      adj: DataFrame, rounds: Int = 3): DataFrame = {
    require(adj.columns.toSeq == Seq("n", "m"),
      s"labelPropagation: adjacency columns must be (n, m), got " +
        adj.columns.mkString("(", ", ", ")"))
    // One scalar job: the row count widths the rounds (Σdeg = |adj|,
    // the per-round join fan-out) and the id range guards the packing.
    // adj is symmetric, so n alone covers every node.
    val st = adj.agg(count(lit(1)), min("n"), max("n")).head()
    if (st.getLong(0) > 0) {
      val (lo, hi) = (st.getLong(1), st.getLong(2))
      require(lo >= 0 && hi < IdLimit,
        s"labelPropagation: node ids must lie in [0, 2^$IdBits) " +
          s"(packed-long argmax), got [$lo, $hi]")
    }
    // lab0 has ONE consumer (round 1's join) — no checkpoint; with a
    // partitioned-on-n adjacency the distinct needs no exchange either.
    var lab = adj.select(col("n")).distinct()
      .select(col("n"), col("n").as("label"))
    // quietRounds (AQE off) around a terminal materialization: the
    // fixed-round chain has no convergence probe, so with AQE disabled
    // the WHOLE fixpoint executes as ONE job with ReuseExchange deduping
    // the adjacency shuffle — AQE's per-stage materialization jobs
    // (3/round at session width) were pure scheduling overhead on a
    // bounded-round kernel. The action must run INSIDE the scope for
    // the width/AQE settings to bind, hence the Cut of
    // the final node-row label frame (which every caller was
    // materializing anyway).
    quietRounds(adj.sparkSession, st.getLong(0)) {
    for (_ <- 1 to rounds) {
      // adj is SYMMETRIC, so "the neighbor labels of a node" can be
      // counted from either end of the edge: joining labels on n and
      // counting per m attaches each label to the edge set with the
      // node-row label frame as the join's build side (shuffle_hash —
      // sort-merge would sort the Σdeg edge stream per round), and
      // the static ReuseExchange rule runs the adjacency shuffle once
      // across all rounds — quietRounds turns AQE off here (r18; was
      // join-on-m + a sort+row_number window per round). The per-node
      // argmax ((cnt desc, label asc)) is a single codegen long-min:
      // pack = label − cnt·2^40 orders by (−cnt, label)
      // lexicographically, and label = pack & (2^40−1) recovers the
      // winner — min(struct(…)) plans as a SortAggregate,
      // the packed long stays a hash aggregate.
      lab = adj.join(lab.hint("shuffle_hash"), "n")
        .groupBy(col("m"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("m").as("n"))
        .agg(min(shiftleft(-col("cnt"), IdBits) + col("label")).as("pk"))
        .select(col("n"),
          col("pk").bitwiseAND(lit(IdLimit - 1)).as("label"))
    }
    Cut(lab).df
    }
  }

  /** Newman modularity Q of a node partition of `edges` with `labels`
    * as (n, label): Q = (4m·intra − Σ D_c²)
    * / (4m²) — intra = edges with both endpoints in one community,
    * D_c = community degree sum. Everything is counting (per-edge
    * endpoint-label explode, map-combined); the numerator is exact in
    * decimal(38,0) (D_c ≤ 2m ⇒ Σ D_c² ≤ 4m², inside decimal38 to
    * m ≈ 1e9 edges) and the only double is the final shared-structure
    * division. Output: one row (n_edges, n_communities, intra_edges,
    * modularity).
    */
  def modularity(edges: Edges, labels: DataFrame): DataFrame = {
    val el = edges.df
      .join(labels.select(col("n").as("u"), col("label").as("lu")), "u")
      .join(labels.select(col("n").as("v"), col("label").as("lv")), "v")
    val dc = el.select(explode(array(col("lu"), col("lv"))).as("label"))
      .groupBy("label").agg(count(lit(1)).as("dsum"))
    val lc = el.filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label"))
      .agg(count(lit(1)).as("lcnt"))
    val f = dc.join(lc, Seq("label"), "left")
      .select(col("dsum"), coalesce(col("lcnt"), lit(0L)).as("lcnt"))
    val d19 = (c: Column) => c.cast("decimal(19,0)")
    val t = f.agg(
      expr("sum(dsum) div 2").as("m"),
      count(lit(1)).as("ncomm"),
      sum("lcnt").as("intra"),
      sum(d19(col("dsum")) * d19(col("dsum"))).as("sd2"))
    t.select(col("m").as("n_edges"), col("ncomm").as("n_communities"),
      col("intra").as("intra_edges"),
      round((lit(4.0) * col("m") * col("intra") -
          col("sd2").cast("double")) /
        ((lit(2.0) * col("m")) * (lit(2.0) * col("m"))), 4)
        .as("modularity"))
  }

  /** HITS' layout of a directed bipartite (src = hub, dst = authority)
    * edge list: both endpoints as longs, null endpoints dropped,
    * distinct, hash-partitioned on the hub.
    */
  def bipartite(edges: DataFrame, src: Column, dst: Column): Bipartite =
    new Bipartite(Cut(edges
      .select(src.cast("long").as("c"), dst.cast("long").as("p"))
      .filter(col("c").isNotNull && col("p").isNotNull)
      .repartition(col("c")).distinct()))

  /** Fixed-point HITS (Kleinberg hubs & authorities) over a directed
    * bipartite edge list (src = hub side, dst = authority side).
    * Each round: authority = Σ inbound hub scores, hub = Σ outbound
    * authority scores, each L1-normalized back to scale S=1e15 by
    * BIGINT floor division — so, like pageRank, the whole fixpoint is
    * order-independent integer arithmetic and replays unrolled in
    * SQL. Intermediates are decimal(38,0) (raw ≤ maxdeg·S ≈ 1e19
    * overflows a long; raw·S ≤ 1e34 stays inside decimal38 to
    * ~1e4-degree hubs at 1e9 nodes). Scale shape per round: the
    * node-sized score vector broadcasts (same ≤50M-node caveat as
    * pageRank — beyond that drop the hint and the cut edge
    * layout co-partitions), edges never move, and the groupBy
    * partial-aggregates map-side so the shuffle carries node-count
    * rows; a [[Cut]] per half-round cuts lineage. Returns
    * (kind 'auth'|'hub', id, score_fp).
    */
  def hits(edges: Bipartite, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val S = 1000000000000000L
    val dec = "decimal(38,0)"
    val e = edges.df
    // Hub node set cut once: it seeds h0 AND carries nc.
    val hubs = Cut(e.select(col("c")).distinct())
    val nc = hubs.rows
    var h = hubs.df.select(col("c"), lit(S / nc).as("h"))
    var a: DataFrame = null
    // Width by edge count: each half-round is a broadcast join against
    // e plus an edge-count-row aggregate — the hub count under-sizes
    // the shuffle width 30× on the purchase bipartite (r17).
    quietRounds(e.sparkSession, math.max(nc, edges.rows)) {
    for (_ <- 1 to rounds) {
      // Cut the RAW frames, not the normalized ones: each raw feeds
      // both its L1 total (broadcast subtree) and the normalization
      // projection, and an uncut raw would run the edge join TWICE per
      // half-round — the dominant cost. The normalized frames are cheap
      // projections of the cut raws and need no cut of their own.
      val araw = Cut(e.join(broadcast(h), "c")
        .groupBy("p").agg(sum(col("h").cast(dec)).as("raw"))).df
      a = araw.crossJoin(broadcast(araw.agg(sum("raw").as("t"))))
        .select(col("p"), expr(s"(raw * $S) div t").as("a"))
      val hraw = Cut(e.join(broadcast(a), "p")
        .groupBy("c").agg(sum(col("a").cast(dec)).as("raw"))).df
      h = hraw.crossJoin(broadcast(hraw.agg(sum("raw").as("t"))))
        .select(col("c"), expr(s"(raw * $S) div t").as("h"))
    }
    }
    a.select(lit("auth").as("kind"), col("p").as("id"),
        col("a").as("score_fp"))
      .unionAll(h.select(lit("hub").as("kind"), col("c").as("id"),
        col("h").as("score_fp")))
  }

  /** Bounded-round k-core peel: each synchronous round deletes every
    * node whose degree in the CURRENT surviving subgraph is < k, then
    * drops edges touching deleted nodes. Enough rounds converge to
    * the exact k-core; a FIXED round count keeps the trajectory
    * deterministic and replayable — the census after round r is a
    * well-defined object, the same round-count-is-the-contract
    * doctrine as pageRank and labelPropagation. Returns (round,
    * n_nodes, n_edges) of the surviving EDGE SET for rounds
    * 0..rounds, where n_nodes counts nodes with at least one
    * surviving edge — a kept node whose every edge died with a
    * peeled neighbor is NOT counted (it cannot be in the k-core and
    * will be peeled next sweep; counting it would make the census
    * depend on which sweep you ask). Per round: one
    * map-combined degree count + two semi-joins clustered on the
    * endpoint keys; a [[Cut]] per round cuts lineage so round r+1 never
    * re-derives rounds 1..r. O(rounds·|E|) worst case, and E shrinks
    * monotonically — at 100 TB the first sweep already discards the
    * long degree-1 tail that dominates real co-occurrence graphs.
    */
  def kCorePeel(edges: Edges, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // Round 0 is the input itself: an Edges is already materialized.
    var e = edges.df
    // The degree frame serves double duty: round r's census IS an
    // aggregate of deg(e_{r-1}) — n_nodes = rows with an edge,
    // n_edges = Σd/2 — so the census never rescans the edge set or
    // pays its own countDistinct shuffle, and `keep` is a free filter
    // over the same (node-sized, cut) frame. coalesce: a
    // fully peeled graph has an EMPTY degree frame, whose global agg
    // yields sum=NULL — the census must read 0, not null.
    def census(r: Int, deg: DataFrame): DataFrame =
      deg.agg(count(lit(1)).as("n_nodes"),
          (coalesce(sum("d"), lit(0L)) / 2).cast("long").as("n_edges"))
        .select(lit(r).as("round"), col("n_nodes"), col("n_edges"))
    var out: DataFrame = null
    quietRounds(e.sparkSession, edges.rows) {
    for (r <- 1 to rounds) {
      val deg = Cut(degrees(e)).df
      val cen = census(r - 1, deg)
      out = if (out == null) cen else out.unionAll(cen)
      val keep = deg.filter(col("d") >= k).select("n")
      e = Cut(e.join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select("u", "v")).df
    }
    }
    // rounds = 0 is valid (census the input, no peeling): the loop
    // never ran, so the final census is the only row.
    val last = census(rounds, degrees(e))
    if (out == null) last else out.unionAll(last)
  }

  /** Common-neighbor Jaccard similarity between node pairs — the
    * classic link-prediction feature. For every pair (u < v) with at
    * least `minCommon` shared neighbors: |N(u)∩N(v)| and
    * jaccard = common / (deg(u) + deg(v) − common). All counts are
    * integers; the single division is the only float op.
    *
    * The wedge self-join on the shared neighbor costs Σ deg(w)² rows —
    * unlike the triangle census this cannot be degree-oriented away,
    * because BOTH endpoints of every wedge are needed. `maxNeighbors`
    * is the 100 TB valve: each node's adjacency list is capped to a
    * DETERMINISTIC hash-ordered sample of that size before the wedge
    * join, bounding the join at Σ min(deg, cap)² ≤ n·cap², and the
    * Jaccard denominator uses the CAPPED degrees so the output is the
    * exact Jaccard of the sampled neighbor sets (an unbiased-ordered,
    * repartition-stable estimator of the true one — md5 order, no
    * RNG). Uncapped (the default) the result is exact; `minCommon`
    * pre-filters the long tail before the degree join either way.
    */
  def neighborJaccard(
      edges: Edges, minCommon: Int = 2,
      maxNeighbors: Int = Int.MaxValue): DataFrame = {
    require(maxNeighbors >= 1, "maxNeighbors must be >= 1")
    val adjFull = adjacency(edges)
    val adj =
      if (maxNeighbors == Int.MaxValue) adjFull
      else {
        // Hash-ordered top-cap per node, hub-only: taking the top-cap
        // of a ≤cap-row partition is the identity, so only SUPER-cap
        // nodes pay the window sort. The wedge join downstream
        // clusters on m (the shared neighbor), not n, so a full
        // window shuffle on n buys nothing — instead one map-combined
        // degree aggregate finds the hubs (≤ 2E/cap of them by
        // counting), their rows split off via semi/anti joins (AQE
        // broadcasts the hub set while it is small, falls back to
        // shuffle when a pathological graph makes most nodes hubs),
        // and the md5-rank sort touches only Σ deg(hub) rows. The
        // portable md5 order keeps the sample — and every downstream
        // count — identical at any parallelism and in any engine.
        val hubs = adjFull.groupBy("n").agg(count(lit(1)).as("d0"))
          .filter(col("d0") > maxNeighbors)
          .select(col("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("n")
          .orderBy(md5(concat_ws("_", col("n"), col("m"))), col("m"))
        val capped = adjFull.join(hubs, Seq("n"), "left_semi")
          .withColumn("hr", row_number().over(w))
          .filter(col("hr") <= maxNeighbors)
          .drop("hr")
        // The capped adjacency feeds three consumers (deg + both wedge
        // sides); materialize once so the split/sort isn't re-derived
        // per consumer. Size is bounded by min(2E, n·cap) 16-byte rows.
        Cut(adjFull.join(hubs, Seq("n"), "left_anti").unionAll(capped)).df
      }
    val deg = adj.groupBy("n").agg(count(lit(1)).as("d"))
    // Wedges share the NEIGHBOR coordinate (a.m = b.m): common(u,v) is
    // then exactly |adj(u) ∩ adj(v)| — identical to the shared-center
    // formulation on the symmetric uncapped set, but the formulation
    // that stays consistent with the capped-degree denominator when
    // maxNeighbors binds (membership is evaluated against u's and v's
    // OWN capped lists, never the reverse direction).
    val common = adj.as("a")
      .join(adj.as("b"), col("a.m") === col("b.m") && col("a.n") < col("b.n"))
      .groupBy(col("a.n").as("u"), col("b.n").as("v"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    // deg is node-cardinality (one row per vertex) while `common` is
    // wedge-pair-cardinality (Σ deg(w)² at worst) — broadcasting deg
    // spares the pair table two full shuffles. When the vertex set
    // itself outgrows broadcast, drop the hint and both joins fall
    // back to sort-merge on the already-clustered keys.
    common
      .join(broadcast(deg.as("du")), col("u") === col("du.n"))
      .join(broadcast(deg.as("dv")), col("v") === col("dv.n"))
      .select(col("u"), col("v"), col("common"),
        (col("common").cast("double") /
          (col("du.d") + col("dv.d") - col("common")).cast("double"))
          .as("jaccard"))
  }
}
