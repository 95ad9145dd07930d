package org.apache.spark.sql.graftx

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, Expression, ExpressionSet}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution, SparkPlan}

/** Column ⇄ Expression bridge for the custom Catalyst expressions in
  * graft.functions. Spark 4 routes Column through ColumnNode, and the
  * conversion helpers are private[sql]; a subpackage bridge is the standard
  * way third-party Catalyst extensions wrap expressions as Columns.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-leaf a cut frame ([[graft.Cut]]) WITHOUT inheriting its origin
    * plan's statistics. A cut deliberately carries the origin stats onto
    * the new `LogicalRDD` — correct for a one-shot cut, but fatal for a
    * self-joining fixpoint: a round that
    * joins labels⋈labels SQUARES sizeInBytes, the checkpoint preserves
    * the square, and after k rounds the estimate is 2^(63·2^k) — a
    * BigInteger whose bit length overflows Catalyst's stats visitor at
    * k≈25 (java.math.BigInteger MAX_MAG_LENGTH), after grinding planning
    * to a halt multiplying megabyte-long integers. Wrapping the
    * checkpointed RDD in a fresh leaf resets the estimate to the default
    * each round, so the exponent is bounded per round instead of
    * compounding across rounds. The RDD is reused as-is (InternalRow,
    * no conversion, no recompute).
    */
  def statsResetLeaf(df: DataFrame): DataFrame = {
    val sp = df.sparkSession.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession]
    sp.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Runs `body` over `df`'s executed plan as the named SQL action, the
    * way `Dataset`'s own (private) `withAction` runs its actions, so
    * query-execution listeners see it.
    */
  def action[T](df: DataFrame, name: String)(body: SparkPlan => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      QueryExecution.withInternalError(s"""The "$name" action failed.""") {
        qe.executedPlan.resetMetrics()
        body(qe.executedPlan)
      }
    }
  }

  /** `rdd`, the rows of `origin`, as the leaf `Dataset.localCheckpoint`
    * builds, with fresh attribute ids swapped by exprId (the full-equality
    * match of `LogicalRDD.newInstance` left stale ids in constraints, and
    * a Union over the leaf failed its constraint rewrite).
    */
  def leaf(rdd: RDD[InternalRow], origin: DataFrame): DataFrame = {
    val l = LogicalRDD.fromDataset(rdd,
      origin.asInstanceOf[classic.Dataset[_]], isStreaming = false)
    val ids = AttributeMap(l.output.map(a => a -> a.newInstance()))
    def swap[E <: Expression](e: E): E =
      e.transform { case a: Attribute => ids.getOrElse(a, a) }.asInstanceOf[E]
    val out = l.output.map(swap(_))
    val stats = l.computeStats()
    val sp = origin.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(sp, LogicalRDD(out, l.rdd,
      l.outputPartitioning match { case p: Expression => swap(p); case p => p },
      l.outputOrdering.map(swap(_)))(sp,
      Some(stats.copy(attributeStats = AttributeMap(
        stats.attributeStats.toSeq.map { case (a, v) => swap(a) -> v }))),
      Some(ExpressionSet(l.constraints.toSeq.map(swap(_))
        .filter(_.references.subsetOf(AttributeSet(out)))))))
  }

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is private[sql];
    * custom logical nodes — graft.plans.TopKPerGroup — enter the session
    * through here).
    */
  def ofRows(
      sp: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      sp.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's AQE advisory partition size in bytes: the partition
    * size AQE coalesces small shuffle partitions towards.
    */
  def advisoryPartitionBytes(sp: org.apache.spark.sql.SparkSession): Long =
    sqlConf(sp).getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** The session's `spark.sql.files.openCostInBytes`: Spark's estimate of
    * the bytes a task scans in the time it takes to open one file. A file
    * split is never smaller, so a file this size scans in one task.
    */
  def fileOpenCostBytes(sp: org.apache.spark.sql.SparkSession): Long =
    sqlConf(sp).filesOpenCostInBytes

  /** Block until the listener bus (private[spark]) has delivered every
    * event posted so far. Spark posts a job's end event before the action
    * that ran it returns, so after an action and this drain every
    * listener has seen all of that action's jobs and stages.
    */
  def drainListenerBus(sp: org.apache.spark.sql.SparkSession): Unit =
    sp.sparkContext.listenerBus.waitUntilEmpty()

  private def sqlConf(sp: org.apache.spark.sql.SparkSession) =
    sp.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** Expose the strategies a SparkSessionExtensions instance would install
    * (private[sql]) so specs can assert GraftExtensions' planner wiring
    * without building a second session in the test JVM.
    */
  def plannerStrategies(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      sp: org.apache.spark.sql.SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(
      sp.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
}
