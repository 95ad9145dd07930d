package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the 100 TB design contract (SURVEY.md
  * §4): pushdown, pruning, broadcast choice, and top-k planning must appear
  * in the plan, not just produce correct rows.
  */
class PlanShapeSpec extends AnyFunSuite with SparkFixture {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  private lazy val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap

  /** The key's own plan, before the registry funnel re-plans it. */
  private def ownPlan(name: String): String =
    byName(name).run(spark, sf0001).queryExecution.executedPlan.toString

  /** "taken" when the funnel plans `df` as one task, else the guard that
    * keeps it out.
    */
  private def verdict(df: org.apache.spark.sql.DataFrame): String =
    SparkEntry.oneTask(df).left.getOrElse("taken")

  test("sim_quantized_topk keeps the integer-dot kernel in codegen (no UDF)") {
    val p = plan("sim_quantized_topk")
    assert(p.contains("graft_qdot"), "custom expression missing from plan")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "quantized dot must not fall back to a black-box UDF")
  }

  test("join_bloom_filtered injects a runtime bloom filter on the fact scan") {
    // The query scopes the thresholds itself; the physical plan must show
    // the fact side filtered by bloom_filter_might_contain before the join.
    val p = plan("join_bloom_filtered").toLowerCase
    assert(p.contains("bloom_filter_might_contain") ||
      p.contains("bloomfilter"), s"no runtime bloom filter in plan:\n$p")
  }

  test("scan_projection prunes the parquet ReadSchema to selected columns") {
    val p = plan("scan_projection")
    assert(p.contains("l_orderkey"))
    assert(!p.contains("l_extendedprice"),
      "pruned column must not reach the scan")
  }

  test("scan_filter_pushdown pushes predicates into the parquet scan") {
    val p = plan("scan_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
      p.contains("LessThan(l_quantity"), p)
  }

  test("join_broadcast plans a BroadcastHashJoin") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("scan_dsv2_seek shows the offset range in the V2 scan's pushed filters") {
    val p = plan("scan_dsv2_seek")
    assert(p.contains("GreaterThanOrEqual(offset,100)") &&
      p.contains("LessThan(offset,600)"),
      s"offset seek range missing from the scan description:\n$p")
  }

  test("udaf_kmv_intersect: the pair join broadcasts sketch rows (BNLJ)") {
    // The non-equi (a.type < b.type) self-join must be a broadcast
    // nested-loop over the N-row sketch table — a cartesian of the raw
    // data would mean set algebra stopped running on sketches.
    val p = plan("udaf_kmv_intersect")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast pair join over sketch rows:\n$p")
    assert(!p.contains("CartesianProduct"),
      "pair join must never cartesian two unbroadcast sides")
  }

  test("limit_topk plans TakeOrderedAndProject (no full global sort)") {
    assert(plan("limit_topk").contains("TakeOrderedAndProject"))
  }

  test("agg_group partial-aggregates before the shuffle") {
    // The key's own plan: at sf0.001 the funnel runs it as one task.
    val p = ownPlan("agg_group")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"))
    assert(p.contains("Exchange hashpartitioning"))
  }

  test("sim_cosine_topk broadcasts the query side (no shuffle of candidates)") {
    val p = plan("sim_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("dedup_minhash band join is hash-based, never a cartesian product") {
    val p = plan("dedup_minhash")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("sim_ann_lsh joins on the LSH signature (equi-join, not cross)") {
    val p = plan("sim_ann_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin"), p)
  }

  test("join_asof shuffles on the entity key, not a cross product") {
    assert(!plan("join_asof").contains("CartesianProduct"))
  }

  test("join_theta_range is a BROADCAST nested loop, never cartesian-both-large") {
    val p = plan("join_theta_range")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"theta demo must broadcast its literal band table:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_langid broadcasts the trained model to the token stream") {
    assert(plan("text_langid").contains("BroadcastHashJoin"))
  }

  test("agg_distinct partial-aggregates (expand + two-phase)") {
    val p = plan("agg_distinct")
    assert(p.contains("Expand") || p.contains("partial"), p)
  }

  test("scan_parquet reads all columns; agg_group scan prunes to 8 of 11") {
    val p = plan("agg_group")
    // Only the aggregation inputs + filter column should reach the scan.
    assert(p.contains("l_shipdate") && p.contains("l_quantity"))
    assert(!p.contains("l_partkey") && !p.contains("l_suppkey"), p)
  }

  test("scan_partition_pruned shows PartitionFilters on the scan") {
    val p = plan("scan_partition_pruned")
    assert(p.contains("PartitionFilters: [") &&
      p.contains("l_returnflag"), p)
  }

  test("join_bucketed sort-merge-joins with NO exchange on either side") {
    val df = SparkEntry.queries("join_bucketed")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    val joinSection = p.substring(p.indexOf("SortMergeJoin"))
    // The aggregate above the join still exchanges; the join inputs must
    // not (bucket layout satisfies the join's distribution requirement).
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinSection.contains("Exchange hashpartitioning(o_orderkey"), p)
  }

  test("join_fuzzy blocks with a hash join — never a cartesian product") {
    val p = plan("join_fuzzy")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fuzzy join must join on blocking keys:\n$p")
    assert(p.contains("levenshtein"), "distance filter missing")
  }

  test("text_chunk_windows fans out map-side (no shuffle at all)") {
    val p = plan("text_chunk_windows")
    // The orderBy adds a range exchange for output determinism; nothing
    // else may shuffle — chunking itself is Generate + Project.
    val body = p.substring(p.indexOf("Generate"))
    assert(!body.contains("Exchange hashpartitioning"),
      s"chunking must not hash-shuffle:\n$p")
  }

  test("sample_stratified evaluates the hash filter at the scan stage") {
    val p = plan("sample_stratified")
    // The arithmetic keep-predicate must sit in a Filter directly over
    // the file scan (no shuffle before selection).
    val scanIdx = p.indexOf("Scan parquet")
    val filterIdx = p.indexOf("2654435761")
    assert(filterIdx >= 0 && filterIdx < scanIdx,
      s"sampling filter not adjacent to scan:\n$p")
  }

  test("scd2_apply broadcasts the change batch") {
    val p = plan("scd2_apply")
    assert(p.contains("BroadcastHashJoin"),
      s"change batch should broadcast:\n$p")
  }

  test("contamination_ngram joins grams hash-based, bench side broadcast") {
    val p = plan("contamination_ngram")
    assert(!p.contains("CartesianProduct"),
      s"contamination must be an inverted-index join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"bench gram index should broadcast:\n$p")
  }

  test("agg_bitmap_distinct avoids the count-distinct Expand double-shuffle") {
    val p = plan("agg_bitmap_distinct")
    assert(!p.contains("Expand"),
      "bitmap distinct must not plan the Expand count-distinct rewrite")
    assert(p.contains("partial") || p.contains("HashAggregate"), p)
  }

  test("join_range_binned and interval_overlap are equi-joins, not BNLJ") {
    Seq("join_range_binned", "join_interval_overlap").foreach { k =>
      val p = plan(k)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$k fell back to an O(n·m) join:\n$p")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), k)
    }
  }

  test("text_keywords broadcasts the vocab-sized df table") {
    assert(plan("text_keywords").contains("BroadcastHashJoin"))
  }

  test("sim_ann_pq scores candidates map-side against broadcast tables") {
    val p = plan("sim_ann_pq")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("scan_cached_reuse reads the in-memory cache, not parquet") {
    val p = plan("scan_cached_reuse")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"second pass must read the cache:\n$p")
  }

  test("dedup_minhash_portable pairs via band equi-join, never all-pairs") {
    val p = plan("dedup_minhash_portable")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the LSH band join must be an equi-join:\n$p")
    assert(p.contains("md5"), "portable signature must hash with md5")
  }

  test("cdc_snapshot_diff joins 16-byte digests, not payloads") {
    val p = plan("cdc_snapshot_diff")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("md5"), "payload must reduce to a digest pre-join")
    assert(p.contains("FullOuter"), "the diff is a full outer join on key")
    // The payload columns must be digested BELOW the join: no payload
    // column name may appear in the join node itself.
    val joinLine = p.linesIterator
      .find(_.contains("FullOuter")).getOrElse("")
    assert(!joinLine.contains("o_orderstatus"),
      s"payload column leaked into the join: $joinLine")
  }

  test("mix_temperature broadcasts the source-cardinality quota table") {
    assert(plan("mix_temperature").contains("BroadcastHashJoin"))
  }

  test("sim_mips_topk keeps graft_dot in codegen and broadcasts queries") {
    val p = plan("sim_mips_topk")
    assert(p.contains("graft_dot"), s"custom dot kernel missing:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast; candidates stream once:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "dot product must not fall back to a black-box UDF")
  }

  test("text_vocab_coverage broadcasts the vocab to the membership join") {
    val p = plan("text_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"),
      s"the token stream must never shuffle for vocab membership:\n$p")
  }

  test("sample_users_coherent is a map-side filter (no pre-agg Exchange)") {
    // The only Exchange allowed is the one feeding the per-type aggregate;
    // the sampling filter itself must sit on the scan side of it.
    val p = plan("sample_users_coherent")
    assert(p.contains("Filter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"entity sampling must not join against an entity list:\n$p")
  }

  test("dq_freshness broadcasts the 1-row watermark") {
    val p = plan("dq_freshness")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the global watermark must broadcast, not shuffle:\n$p")
  }

  test("shuffle budgets: Exchange counts stay at the designed number") {
    // The shuffle discipline, enforced as a regression guard: each query
    // declares the maximum shuffle Exchanges its design needs. A new
    // Exchange appearing in one of these plans is a design regression
    // (lost broadcast, lost partial-agg, accidental repartition), not a
    // tuning detail. Counts are on the pre-execution physical plan.
    // Every registry query ends in an orderBy for oracle determinism —
    // that range exchange is part of the budget (drop it in production
    // use and each budget shrinks by one). The plans are the keys' own
    // `run` frames, before the registry's final-sort policy
    // (SparkEntry.oneTaskFinalSort) may trade that exchange for a
    // one-task sort, so every budget keeps its meaning.
    val budgets = Map(
      "project_compute" -> 1,   // map-side projection + final sort
      "filter_compound" -> 1,   // pushdown filter + final sort
      "join_broadcast" -> 1,    // broadcast join (0) + final sort; a
                                // lost broadcast would show up as 2
      "sim_cosine_topk" -> 2,   // per-query rank window + final sort;
                                // candidates themselves never shuffle
      "agg_group" -> 2,         // one hash aggregate + final sort
      "filter_sample_hash" -> 2, // map-side filter, aggregate, sort
      "sample_users_coherent" -> 3, // countDistinct 2-phase agg + sort;
                                // the entity filter itself is map-side
      "dq_table_checksum" -> 2, // one grouped aggregate + final sort
      "text_tokenize_wordcount" -> 2, // term aggregate + global sort
      "mix_epoch_repeat" -> 1,  // broadcast factors + explode; ONLY the
                                // presentation sort shuffles
      "pipeline_epoch_shuffle" -> 3, // one hash Exchange per epoch's
                                // shard window + final sort; a global
                                // total-order would also show up here
      "sample_balance_cap" -> 5, // rank window + two aggs + join + sort
      "scan_dsv2_log" -> 1,     // key-grouped V2 scan: the (partition,
                                // event_type) aggregate rides the
                                // connector-reported clustering with NO
                                // hash Exchange; only the final sort
                                // shuffles (was 2 before
                                // SupportsReportPartitioning)
      "scan_dsv2_seek" -> 1,    // same key-grouped scan through the
                                // offset-range seek; sort only
      "udf_foreign_pipe" -> 1,  // the pipe is map-side per task: only
                                // the presentation sort shuffles — an
                                // Exchange before the pipe would mean
                                // the foreign process stopped streaming
      "dedup_exact" -> 2,       // digest groupBy + final sort: shuffle
                                // keys are 64-byte hashes, never text
      // (dedup_minhash is NOT budgeted: its Exchange count legitimately
      // changes with the signature cache's materialization state —
      // broadcast vs shuffle band join; the no-cartesian test above is
      // its plan guard)
      "sim_mips_topk" -> 2,     // per-query rank window + final sort;
                                // candidates stream, never shuffle
      "join_semi" -> 1,         // broadcast semi (0) + final sort
      "join_anti" -> 1,         // broadcast anti (0) + final sort
      "sessionize_gap" -> 2,    // one user-key window shuffle + sort
      "win_rank" -> 2,          // one partitionBy shuffle + final sort
      "pack_concat_split" -> 2, // one group-key window (running token
                                // sum) + final sort — the closed-form
                                // packer never folds sequentially
      "sample_split" -> 2,      // portable-hash split is map-side; agg
                                // + sort only
      "text_token_count" -> 2,  // one aggregate + final sort
      "limit_topk" -> 0,        // TakeOrderedAndProject, no exchange
      "sql_catalog_ddl" -> 2,   // catalog-resolved 3-table join is all
                                // broadcasts; one agg hash Exchange +
                                // final sort — name resolution must
                                // not change the physical plan
      "contamination_embedding" -> 2, // eval side broadcasts, train
                                // streams once; per-eval agg + sort —
                                // a window over the cross product
                                // would show up as a third Exchange
      "dq_skew_report" -> 4)    // ONE key shuffle (counts materialize
                                // once); size-histogram agg + two
                                // 1-row/3-row SinglePartition steps +
                                // final sort — never a key-set sort
    budgets.foreach { case (name, maxEx) =>
      val p = byName(name).run(spark, sf0001).queryExecution.executedPlan.toString
      // Shuffle exchanges only: BroadcastExchange moves a dim table to
      // every executor by design and ReusedExchange is free.
      val n = "Exchange (hash|range|SinglePartition|roundrobin)".r
        .findAllIn(p).length
      assert(n <= maxEx,
        s"$name: $n shuffle Exchanges, budget $maxEx — regression?\n$p")
    }
  }

  test("join_skew_aqe: the runtime skew handler actually fires") {
    // Reproduce the op's inner join under the same conf scope and check
    // the POST-execution adaptive plan: AQE must have marked the sort-
    // merge join as skew-handled (the hot partition split across tasks).
    // Same scenario and conf scope as the op itself (shared helpers in
    // operators.Joins), so this assertion exercises the shipped plan.
    Session.withConf(spark, graft.operators.Joins.skewConfs: _*) {
      val joined = graft.operators.Joins.skewJoinFrame(spark, sf001)
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE never split the hot partition:\n$p")
    }
  }

  test("expr_custom stays inside whole-stage codegen") {
    // AQE only materializes WholeStageCodegen spans in the final plan.
    val df = SparkEntry.queries("expr_custom")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // The `*(N)` prefix marks operators fused into WholeStageCodegen stage
    // N; the Project evaluating graft_cosine must carry it.
    assert("""\*\(\d+\) Project \[[^\n]*graft_cosine""".r
      .findFirstIn(p).isDefined, p)
  }

  test("sql_join_hints: BROADCAST and SHUFFLE_MERGE steer the join") {
    Tables.orders(spark, sf001).createOrReplaceTempView("gh_orders")
    Tables.customer(spark, sf001).createOrReplaceTempView("gh_customer")
    def hinted(hint: String): String = {
      val df = spark.sql(s"""
        SELECT /*+ $hint(c) */ count(*) FROM gh_orders o
        JOIN gh_customer c ON o.o_custkey = c.c_custkey""")
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(hinted("BROADCAST").contains("BroadcastHashJoin"))
    val merged = hinted("SHUFFLE_MERGE")
    assert(merged.contains("SortMergeJoin") &&
      !merged.contains("BroadcastHashJoin"),
      s"SHUFFLE_MERGE hint ignored:\n$merged")
  }

  test("AQE coalesces a small aggregate's shuffle reads") {
    import org.apache.spark.sql.functions._
    // 32 shuffle partitions (session conf) over a 5-group aggregate:
    // the runtime must coalesce the tiny reduce partitions rather than
    // schedule 32 near-empty tasks — the other AQE pillar next to
    // join_skew_aqe's skew split. POST-execution adaptive plan only.
    val df = Tables.lineitem(spark, sf001)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"AQE did not coalesce the shuffle read:\n$p")
  }

  test("dq_benford scans ONLY the price column of 11") {
    val p = plan("dq_benford")
    assert(p.contains("l_extendedprice"), p)
    assert(!p.contains("l_orderkey") && !p.contains("l_shipdate"),
      "digit census must not drag unrelated lineitem columns to the scan")
  }

  test("two-sample stats scan (event_type, value) and nothing else") {
    // The KS/U family reduces events to a cent histogram in its first
    // hash aggregate — the scan must not read ts/user_id/props.
    // (agg_mad shares the shape but its scan hides behind the
    // checkpointed histogram, so the executed plan can't show it.)
    Seq("agg_ks_test", "agg_mannwhitney").foreach { k =>
      val p = plan(k)
      assert(p.contains("event_type") && p.contains("value"), s"$k:\n$p")
      assert(!p.contains("user_id") && !p.contains("props"),
        s"$k reads columns its histogram never touches")
    }
  }

  test("graph_assortativity joins degrees hash-based, never all-pairs") {
    val p = plan("graph_assortativity")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("agg_mad broadcasts the per-type median to the cent histogram") {
    assert(plan("agg_mad").contains("BroadcastHashJoin"))
  }

  test("sim_radius_search: broadcast queries, codegen integer kernel, " +
    "no shuffle before the sort") {
    val p = plan("sim_radius_search")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"5-query side must broadcast:\n$p")
    assert(p.contains("graft_qdot"), "integer dot kernel missing")
    assert(!p.contains("CartesianProduct"), p)
    // the only Exchange allowed is the final orderBy's range partition
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"radius scan should not shuffle the corpus:\n$p")
  }

  test("agg_log_histogram: one hash aggregate pair, no window, " +
    "scan pruned to (source, n_chars)") {
    val p = plan("agg_log_histogram")
    assert(!p.contains("Window"), "bucket shares must not need a window")
    assert(!p.contains(" text"), "text column must not reach the scan")
  }

  test("sample_ab_assign: arm assignment is a pure projection over the scan") {
    val p = plan("sample_ab_assign")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(" props"), "props must be pruned from the scan")
  }

  test("text_ngram_novelty: both shuffles are shingle- or source-keyed " +
    "hash aggregates, no cartesian anywhere") {
    val p = plan("text_ngram_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("ml_gbdt_stump: the split window runs over the bin frame, " +
    "the fact scan reads only (text, n_chars)") {
    val p = plan("ml_gbdt_stump")
    assert(p.contains("Window"), "cumulative split sums need the window")
    assert(!p.contains("doc_id"), "id column must be pruned from the scan")
  }

  test("final sort: a small scan-fed input sorts in one task") {
    // sort_global sorts a projection of the orders scan, estimated below
    // spark.sql.files.openCostInBytes at sf0.001: no sampling job, no
    // range shuffle, and a scan that small is one task per file anyway.
    // The final-sort rule alone: the funnel plans the key as one task.
    val p = SparkEntry.oneTaskFinalSort(byName("sort_global").run(spark, sf0001))
      .queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("Coalesce 1"), p)
  }

  test("final sort: a small input behind a shuffle sorts in one task") {
    // agg_group's sort input is a hash aggregate over a parquet scan: the
    // coalesce folds only the post-aggregate stage into the sort's task,
    // and the scan below the aggregate's shuffle keeps its tasks. A file
    // open cost of 1 byte keeps the key out of the one-task plan, so the
    // funnel hands it to the final-sort rule.
    val p = Session.withConf(spark, "spark.sql.files.openCostInBytes" -> "1") {
      plan("agg_group")
    }
    assert(!p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("Coalesce 1"), p)
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("final sort: an input Spark cannot estimate keeps the range exchange") {
    // udf_foreign_pipe re-enters from an RDD, whose size estimate is
    // Long.MaxValue: the sort must stay a distributed range sort.
    val p = plan("udf_foreign_pipe")
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(!p.contains("Coalesce 1"), p)
  }

  test("final sort: a scan that picks its own partitions keeps the range " +
    "exchange") {
    // scan_dsv2_seek aggregates a key-grouped V2 scan with no shuffle in
    // between; the source, not the file size, decides its tasks.
    val p = plan("scan_dsv2_seek")
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(!p.contains("Coalesce 1"), p)
  }

  test("final sort: the bound is the AQE advisory size behind a shuffle, " +
    "the file open cost over a scan") {
    // Each key sorts in one task at sf0.001 (cases above); shrinking its
    // own bound below the estimate brings the range exchange back, and
    // shrinking the other bound does not. The one-task plan takes both
    // keys at the default bounds and is bounded by both: the file open
    // cost on its inputs, the advisory size on every operator's output.
    def rangeSorted(key: String, confs: String*): Boolean =
      Session.withConf(spark, confs.map(_ -> "1"): _*) {
        plan(key).toLowerCase.contains("rangepartitioning")
      }
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val openCost = "spark.sql.files.openCostInBytes"
    assert(rangeSorted("agg_group", advisory, openCost))
    assert(!rangeSorted("agg_group", openCost))
    assert(rangeSorted("agg_group", advisory))
    assert(rangeSorted("sort_global", openCost))
    assert(!rangeSorted("sort_global", advisory))
  }

  test("final sort: rows made by a generator keep the range exchange") {
    // explode is estimated at its input's size whatever it emits, so the
    // estimate does not bound the sort's input.
    def finalSort(select: String): String =
      SparkEntry.oneTaskFinalSort(spark.sql(
        s"SELECT $select AS v FROM VALUES (1L), (2L), (3L) AS t(id) ORDER BY v"))
        .queryExecution.executedPlan.toString
    val plain = finalSort("id")
    assert(plain.contains("Coalesce 1"), plain)
    val exploded = finalSort("explode(sequence(0L, id))")
    assert(exploded.toLowerCase.contains("rangepartitioning"), exploded)
  }

  test("final sort: the rewrite is idempotent") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val once = SparkEntry.oneTaskFinalSort(byName("agg_group").run(spark, sf0001))
    val plan1 = once.queryExecution.analyzed
    assert(SparkEntry.rootSort(plan1).exists(_._1.child match {
      case Repartition(1, false, _) => true
      case _ => false
    }), plan1.treeString)
    val plan2 = SparkEntry.oneTaskFinalSort(once).queryExecution.analyzed
    assert(plan2 == plan1, s"second rewrite changed the plan:\n$plan2")
  }

  test("one-task plan: a second pass leaves the plan unchanged") {
    val once = SparkEntry.funnel(byName("agg_group").run(spark, sf0001))
    val plan1 = once.queryExecution.optimizedPlan
    val plan2 = SparkEntry.funnel(once).queryExecution.optimizedPlan
    assert(plan2 == plan1, s"second pass changed the plan:\n$plan2")
  }

  test("one-task plan: a small scan keeps its pushdowns and runs unshuffled") {
    // The coalesce goes into the optimized plan, under the final sort,
    // after the filters and the projection reached the scan.
    val df = SparkEntry.queries("filter_in_between_like")(spark, sf0001)
    assert(verdict(byName("filter_in_between_like").run(spark, sf0001)) ==
      "taken")
    val nodes = SparkEntry.planNodes(df.queryExecution.executedPlan)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Coalesce 1"), p)
    val scan = nodes.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata
    }.getOrElse(fail(s"no file scan:\n$p"))
    assert(scan("PushedFilters").contains("In(o_orderpriority") &&
      scan("PushedFilters").contains("GreaterThanOrEqual(o_totalprice"), scan)
    assert(!scan("ReadSchema").contains("o_clerk"), scan)
    assert(!p.contains("Exchange "), p)
  }

  test("one-task plan: the inputs' size bound is the file open cost") {
    import org.apache.spark.sql.functions._
    // A Range leaf of n rows is estimated at 8n bytes and a one-row
    // relation at 1: 4 MiB exactly is taken, 4 MiB + 1 byte is not.
    def input(n: Long) =
      spark.range(n).toDF("id").union(spark.sql("SELECT 1L AS id"))
        .groupBy(col("id") % 7).count()
    assert(verdict(input(524287L)) == "taken")
    assert(verdict(input(524288L)) == "size")
  }

  test("one-task plan: leaves that pick their partitions or have no size " +
    "stay out") {
    import org.apache.spark.sql.functions._
    assert(verdict(byName("scan_dsv2_limit_pushdown").run(spark, sf0001)) ==
      "leaf", "a V2 scan picks its own partitions")
    assert(verdict(byName("udf_foreign_pipe").run(spark, sf0001)) == "leaf",
      "an RDD leaf without statistics is estimated at Long.MaxValue")
    assert(verdict(byName("scan_projection").run(spark, sf0001)) == "taken")
    // A cut keeps its origin's statistics, so its leaf is sized.
    val cut = Cut(spark.range(100).toDF("id")).df
    assert(verdict(cut.groupBy(col("id") % 3).count()) == "taken")
  }

  test("one-task plan: partition-dependent values stay out") {
    import org.apache.spark.sql.functions._
    val base = spark.range(100).toDF("id")
    assert(verdict(base.select(col("id"), rand(7).as("r"))) ==
      "nondeterministic")
    assert(verdict(base.select(col("id"), (col("id") * 7 % 5).as("r"))) ==
      "taken")
    assert(verdict(base.sample(0.5, 7)) == "sample")
    assert(verdict(base.filter(col("id") % 2 === 0)) == "taken")
  }

  test("one-task plan: an explicit repartition, a cached input and a " +
    "stream stay out") {
    import org.apache.spark.sql.functions._
    val base = spark.range(100).toDF("id")
    assert(verdict(base.repartition(4).groupBy("id").count()) ==
      "repartition")
    assert(verdict(base.repartition(4, col("id"))) == "repartition")
    assert(verdict(base.coalesce(4).groupBy("id").count()) == "taken")
    val cached = spark.range(101).toDF("id").cache()
    try {
      assert(verdict(cached.groupBy("id").count()) == "cached")
    } finally cached.unpersist(blocking = true)
    assert(verdict(spark.range(101).toDF("id").groupBy("id").count()) ==
      "taken")
    val stream = spark.readStream.format("rate").load()
    assert(verdict(stream.select(col("value"))) == "streaming")
  }

  test("one-task plan: an operator estimated over the advisory size, or a " +
    "join Spark re-shuffles, stays out") {
    import org.apache.spark.sql.functions._
    // A cross product's estimate is the product of its sides': a Range of
    // n rows is 8n bytes, so n = 1024 is the 64 MiB advisory size exactly.
    def cross(n: Long) =
      spark.range(n).toDF("a").crossJoin(spark.range(n).toDF("b"))
    assert(verdict(cross(1024L)) == "taken")
    assert(verdict(cross(1025L)) == "output")
    // Over spark.sql.maxSinglePartitionBytes Spark shuffles both sides of
    // a sort-merge join even when each is one task. The aggregates keep
    // the optimizer from reordering the join; each side is 1200 bytes.
    def counts = {
      def side(k: String) = spark.range(100).toDF(k).groupBy(k).count()
      side("a").join(side("c"), col("a") === col("c"))
    }
    Session.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(verdict(counts) == "taken")
      Session.withConf(spark, "spark.sql.maxSinglePartitionBytes" -> "1000") {
        assert(verdict(counts) == "exchange")
      }
    }
  }

}
