package graft

import org.scalatest.funsuite.AnyFunSuite

/** Stage/job budgets for the ITERATIVE keys — the regression class the
  * plan-shape census cannot see (round 11). PlanShapeSpec pins Exchange
  * counts in the final plan, but a missing per-round materialization
  * multiplies EXECUTED stages, not planned Exchanges: each round's
  * broadcast subtree silently re-executes rounds 1..k-1 (O(k²/2) stage
  * growth) while the top-level plan looks identical. That is exactly
  * the bug found in pagerank's undirected path this round (4.2 s →
  * 2.6 s at sf0.1 once materialized — api.Graph.pageRank scaladoc), so
  * the guard counts what the scheduler actually ran.
  *
  * Budgets sit at ≈1.35× (rounded up) the counts this spec's info lines
  * print at sf0.001 (where the round structure is identical to any
  * scale): a quadratic re-execution roughly doubles-to-triples the
  * stage count for these round counts, so the bound trips on the bug
  * class while ambient retry/AQE jitter stays below it. Every key here
  * but ml_kmeans runs its rounds inside a `quietRounds` scope (AQE off),
  * so a scope that leaves AQE on shows up here as extra jobs (r14:
  * ml_dbscan_grid ran 208 jobs that way). The test names carry the budgets; a budget
  * only moves down, with its old and new value in CHANGES.md.
  *
  * Every key is counted with the graph catalog warm
  * (`Pipeline.warmGraph`), the state Bench times keys in, so no count
  * depends on which key ran first: a cold key would also count the
  * builds of the warm entries it reads, and a key run after another
  * graph key would count only the entries that key left unbuilt.
  * Re-measure a key whose round structure legitimately changes by
  * running this spec alone (`testOnly graft.StageBudgetSpec`); each
  * test's info line prints the counts.
  */
class StageBudgetSpec extends AnyFunSuite with SparkFixture {

  // Count each key in the state Bench times it in: the graph catalog
  // warm, so a key's count never depends on which key ran before it.
  override def beforeAll(): Unit = {
    super.beforeAll()
    operators.Pipeline.warmGraph(spark, sf0001)
  }

  // key -> (max jobs, max stages). Each comment gives the jobs/stages
  // the census counter (`Probe.schedulerWork`) reads for the key at
  // sf0.001 with the graph catalog warm. Jobs and stages differ: a job
  // submits its result stage plus every shuffle-map stage it cannot
  // skip, so jobs == stages only when each job runs a single stage
  // (ml_kmeans).
  private val budgets: Seq[(String, Int, Int)] = Seq(
    ("graph_pagerank", 21, 36), // measured 15/26 (5 rounds + AQE; the
    // edge and node counts come from their cuts, and the fixpoint is
    // not cut again)
    ("graph_bfs", 19, 37), // measured 14/27 (frontier + exit probes;
    // the adjacency count comes from its cut, the seed is not cut)
    ("graph_sssp", 19, 29), // measured 14/21 (maxHops relaxations;
    // the adjacency count comes from its cut, the seed is not cut)
    ("dedup_connected_components", 30, 65), // measured 22/48
    ("ml_kmeans", 29, 29), // measured 21/21 (5 Lloyd rounds)
    ("graph_label_propagation", 7, 17), // measured 5/12 (sizing
    // aggregate, one single-job 3-round fixpoint — the
    // no-per-round-checkpoint signature — and the community census; a
    // jump toward ~40 means rounds re-materialized)
    ("graph_kcore", 19, 36) // measured 14/26 (4 × (deg + edge cut) +
    // final census union; the edge count comes from the warm edge cut)
  )

  budgets.foreach { case (key, maxJobs, maxStages) =>
    test(s"$key stays inside its scheduler budget " +
      s"(<=$maxJobs jobs, <=$maxStages stages)") {
      // jobs and first-attempt stages of one counted run: the counter
      // `graft.Probe census` prints
      val (_, j, s) = Probe.schedulerWork(spark) {
        SparkEntry.queries(key)(spark, sf0001).count()
      }
      info(s"$key ran $j jobs / $s stages at sf0.001")
      assert(j <= maxJobs,
        s"$key ran $j jobs (> $maxJobs): a per-round materialization " +
          "was likely dropped, or a scalar probe loop regressed")
      assert(s <= maxStages,
        s"$key ran $s stages (> $maxStages): broadcast/checkpoint " +
          "subtrees are re-executing earlier rounds (the pagerank-bug " +
          "class) — check lineage cuts before raising this budget")
    }
  }
}
