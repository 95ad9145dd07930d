package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftx.Bridge

/** A lineage cut, the engine's only one (ARCHITECTURE.md, "Lineage
  * cuts"): `df` stored in executor-local blocks and read back as a leaf,
  * with its row count. It runs one job, the one
  * `Dataset.localCheckpoint(true)` runs, whose partition sizes sum to
  * [[rows]]. The leaf keeps the origin's statistics, partitioning and
  * ordering, and gets fresh attribute ids, so it joins back against its
  * own source without a re-alias.
  */
final class Cut private (val df: DataFrame, val rows: Long)

object Cut {
  def apply(df: DataFrame): Cut = Bridge.action(df, "localCheckpoint") {
    plan =>
      val rdd = plan.execute().map(_.copy())
      rdd.localCheckpoint()
      // The job stores each partition as it counts it, so the checkpoint
      // that runs when the job ends finds every block and runs nothing.
      val rows = df.sparkSession.sparkContext
        .runJob(rdd, (it: Iterator[InternalRow]) => it.size.toLong).sum
      new Cut(Bridge.leaf(rdd, df), rows)
  }
}
