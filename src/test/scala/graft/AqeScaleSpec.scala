package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE behavior at realistic shuffle scale (VERDICT r10 task 6): the
  * registry's join_skew_aqe demo lowers the skew thresholds to harness
  * partition sizes (16KB) because sf0.001-0.01 shuffles are tiny; this
  * spec instead generates a genuinely skewed multi-hundred-MB shuffle
  * from spark.range (no fixture dependence) and drives the SAME runtime
  * machinery under near-default thresholds:
  *
  *   - skewedPartitionFactor stays at its 5.0 default;
  *   - advisoryPartitionSizeInBytes stays at its 64MB default;
  *   - skewedPartitionThresholdInBytes is 32MB (default 256MB) — an 8×
  *     scale-down matching the harness's ~200MB total shuffle vs a
  *     production multi-GB one, not the demo's 16000× — the hot
  *     partition is ~170MB of real shuffle blocks, >5× the median AND
  *     over the threshold, exactly the double condition the handler
  *     checks at cluster scale;
  *   - broadcast is disabled only because the dim side is deliberately
  *     small here (in production it would be another fact).
  *
  * Assertions read the POST-execution adaptive plan's own structures,
  * not a string heuristic alone: the SortMergeJoin must be marked
  * skew-handled, the fact-side AQEShuffleRead must carry MORE partition
  * specs than the shuffle's 32 reduce partitions (the hot partition
  * split along mapper boundaries), and the aggregate's shuffle read must
  * be coalesced (the other AQE pillar).
  */
class AqeScaleSpec extends AnyFunSuite with SparkFixture {

  test("runtime skew split + coalesce fire on a ~10M-row skewed join " +
      "under near-default thresholds") {
    val s = spark
    import s.implicits._
    Session.withConf(s,
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "32MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // 10M rows, 90% on one hot key, incompressible double payloads so
      // compressed shuffle block sizes stay honest (~170MB hot).
      val fact = s.range(0, 10000000L, 1, 16)
        .select(
          when(pmod(col("id"), lit(10)) < 9, lit(0L))
            .otherwise(pmod(col("id"), lit(1000)) + 1).as("k"),
          (sin(col("id").cast("double")) * 1e9).as("v1"),
          (cos(col("id").cast("double")) * 1e9).as("v2"))
      val dim = (0L to 1000L).map(k => (k, s"g${k % 7}")).toDF("k", "grp")
      val joined = fact.join(dim, Seq("k"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v1").as("s1"))
      val rows = joined.collect()
      assert(rows.length == 7)
      assert(rows.map(_.getLong(1)).sum == 10000000L)
      val plan = joined.queryExecution.executedPlan
      val planStr = plan.toString
      assert(planStr.contains("skew=true"),
        s"AQE never marked the join skew-handled:\n$planStr")
      // Query stages are leaf nodes wrapping their materialized plans, so
      // a plain collect never reaches the reads — descend explicitly.
      def collectReads(p: SparkPlan): Seq[AQEShuffleReadExec] =
        p.collect {
          case a: AdaptiveSparkPlanExec => collectReads(a.executedPlan)
          case q: QueryStageExec => collectReads(q.plan)
          case r: AQEShuffleReadExec => Seq(r)
        }.flatten
      val reads = collectReads(plan)
      assert(reads.nonEmpty, s"no AQEShuffleRead in plan:\n$planStr")
      // Skew split: the fact side's hot reduce partition materializes as
      // >=2 PartialReducerPartitionSpec slices (mapper-range sub-reads of
      // ONE reducer partition; the dim side replays its matching
      // partition per slice rather than splitting, so only the big side
      // carries partial specs), while the 31 cold partitions coalesce —
      // the spec histogram, not the raw count, is the skew evidence.
      val partialCounts = reads.map(_.partitionSpecs.count(
        _.isInstanceOf[org.apache.spark.sql.execution
          .PartialReducerPartitionSpec]))
      assert(partialCounts.exists(_ >= 2),
        s"hot partition never split into partial-reducer slices " +
          s"(partial-spec counts: $partialCounts):\n$planStr")
      // Coalesce: the 7-group aggregate's tiny reduce partitions merge.
      assert(planStr.contains("coalesced"),
        s"AQE did not coalesce the aggregate's shuffle read:\n$planStr")
    }
  }
}
