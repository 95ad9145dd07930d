package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named operator/query from the SURVEY.md §2 inventory.
  *
  * @param name   stable registry key (SURVEY.md §2 `key` column)
  * @param run    Spark build: (session, scale-factor dir) => result
  * @param oracle equivalent ANSI SQL for the DuckDB 1.0 oracle over the same
  *               parquet tables; None for ops the oracle cannot express
  *               (approximate, side-effecting, or non-deterministic shapes),
  *               which are graded rows-only.
  *
  * Determinism contract for every oracle-bearing query (SURVEY.md §2 box):
  * ORDER BY a unique key on both sides, round double aggregates to 4
  * decimals on both sides, UTC session timezone, column names identical.
  *
  * Final-sort policy: `run` ends in a plain global `orderBy`; the registry
  * funnel ([[SparkEntry.queries]]) decides how it executes. The sort runs
  * in one task over its input coalesced without a shuffle, so there is no
  * range-sampling job and no extra shuffle stage, when the input's size
  * estimate (`stats.sizeInBytes`) is small. Behind a shuffle on every path
  * to a scan, small means at most the session's
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`: the coalesce folds
  * only the stages after that shuffle into the sort's task. Where a file
  * scan would run in the sort's task, it means at most
  * `spark.sql.files.openCostInBytes`, a scan that plans as one task per
  * file anyway. Other inputs keep the range exchange: inputs over their
  * bound (often join products), scans that pick their own partitions (V2
  * sources, bucketed tables) and inputs Spark cannot estimate (RDD
  * leaves, generators). Either way the rows and their order are the same;
  * compositions that call another key's `run` directly see the raw frame.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

trait QueryModule {
  def all: Seq[Q]
}
