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
  * Plan policy: `run` ends in a plain global `orderBy`; the registry
  * funnel ([[SparkEntry.funnel]], behind [[SparkEntry.queries]]) decides
  * how the frame executes. A batch frame whose leaves are plain file or
  * local relations, ranges or sized RDD leaves, whose inputs sum to at
  * most `spark.sql.files.openCostInBytes`, whose every operator Spark
  * estimates to output at most the AQE advisory partition size (a
  * join's estimate is the product of its sides'), and that holds no
  * cached input, explicit shuffle repartition, sample or
  * nondeterministic expression runs as one task: a coalesce to one
  * partition under every operator that needs its input clustered, so
  * no exchange is planned and the query is one job plus its broadcasts
  * (a frame whose one-task plan would still shuffle is not taken). Any
  * other frame keeps its plan, except that its final sort runs in one
  * task over its input coalesced without a shuffle when that input is
  * small: behind a
  * shuffle on every path to a scan, at most the session's
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`; where a file scan
  * would run in the sort's task, at most the file open cost. Other
  * inputs keep the range exchange: inputs over their bound (often join
  * products), scans that pick their own partitions (V2 sources,
  * bucketed tables) and inputs Spark cannot estimate (RDD leaves,
  * generators). Either way the rows and their order are the same;
  * compositions that call another key's `run` directly see the raw
  * frame.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

trait QueryModule {
  def all: Seq[Q]
}
