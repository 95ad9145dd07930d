package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan + semantics pins for `join_spj_dsv2` — the storage-partitioned
  * join over two co-partitioned graft-log topics. The claim under test is
  * structural: with both scans reporting KeyGroupedPartitioning(partition)
  * and HasPartitionKey splits, the record-level (partition, key) join and
  * the per-partition aggregate above it run with NO hash Exchange anywhere
  * (the only shuffle in the registry key is the 4-row presentation sort).
  */
class SpjPlanSpec extends AnyFunSuite with SparkFixture {

  test("join_spj_dsv2: co-located SMJ, zero hash exchanges (broadcast off)") {
    val s = spark
    Session.withConf(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = SparkEntry.queries("join_spj_dsv2")(s, sf0001)
      df.collect() // force the AQE final plan
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"SPJ must not hash-shuffle either log side or the aggregate:\n$p")
      assert(p.contains("SortMergeJoin"),
        s"expected a co-located sort-merge join:\n$p")
      assert(p.contains("BatchScan"), p)
    }
  }

  test("join_dpp_dsv2: dim partition values prune log segments at runtime") {
    val sp = spark
    // first run materializes the cached topic fixture; count a clean run
    SparkEntry.queries("join_dpp_dsv2")(sp, sf0001).collect()
    graft.sources.GraftLog.segmentsOpened.set(0L)
    val rows = SparkEntry.queries("join_dpp_dsv2")(sp, sf0001).collect()
    assert(rows.map(_.getAs[Int]("partition")).toSeq == Seq(0, 1))
    // the presentation orderBy's RangePartitioner samples its child,
    // re-running the pruned scan chain once: 2 pruned opens × 2 passes.
    // Un-pruned the same query opens 8 (4 × 2) — ≤ 4 proves pruning.
    val opened = graft.sources.GraftLog.segmentsOpened.get()
    assert(opened <= 4L,
      s"runtime filter did not prune: opened $opened (expected <= 4)")
    // the crisp single-pass claim, no sort: 2 of 4 segments
    val fact = sp.read.format("graft-log")
      .load(graft.operators.DsV2.topic(sp, sf0001))
    val dim = sp.read.parquet(graft.operators.DsV2.dppDim(sp, sf0001))
      .filter(col("c_custkey").isin(4L, 9L))
    graft.sources.GraftLog.segmentsOpened.set(0L)
    fact.join(broadcast(dim), col("partition") === col("dp")).collect()
    assert(graft.sources.GraftLog.segmentsOpened.get() == 2L,
      "single-pass join must open exactly the 2 joined partitions")
  }

  test("join_spj_dsv2: offset translation is exact at sf0.001") {
    val s = spark
    val rows = SparkEntry.queries("join_spj_dsv2")(s, sf0001).collect()
    assert(rows.map(_.getAs[Int]("partition")).toSeq == (0 to 3))
    // independent replay: recompute both topics' offsets from events
    val ev = Tables.events(s, sf0001)
      .select((col("user_id") % 4).cast("int").as("p"), col("event_id"),
        col("event_type")).collect()
    val byP = ev.groupBy(_.getInt(0))
    rows.foreach { r =>
      val p = r.getAs[Int]("partition")
      val all = byP(p).map(_.getLong(1)).sorted
      val srcOff = all.zipWithIndex.toMap
      val purch = byP(p).filter(_.getString(2) == "purchase")
        .map(_.getLong(1)).sorted
      assert(r.getAs[Long]("n_matched") == purch.length)
      assert(r.getAs[Long]("max_cmp_off") == purch.length - 1,
        "purchase-topic offsets must be dense from 0")
      assert(r.getAs[Long]("min_src_off") == srcOff(purch.head))
      assert(r.getAs[Long]("max_src_off") == srcOff(purch.last))
    }
  }
}
