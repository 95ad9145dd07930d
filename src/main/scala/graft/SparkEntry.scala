package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CoGroup,
  Deduplicate, Distinct, Except, FlatMapGroupsWithState, Generate,
  GlobalLimit, Intersect, LeafNode, LocalRelation, LogicalPlan, MapGroups,
  MapPartitions, OneRowRelation, Project, RebalancePartitions, Repartition,
  RepartitionByExpression, Sort, Window}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftx.Bridge

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every module's declared queries (SURVEY.md §2 inventory).
  * Keys are stable registry names; each oracle-bearing key has DuckDB-1.0
  * SQL over the same parquet tables.
  */
object SparkEntry {

  private def modules: Seq[QueryModule] = Seq(
    graft.operators.Sources,
    graft.operators.Relational,
    graft.operators.Scalars,
    graft.operators.Joins,
    graft.operators.Aggregates,
    graft.operators.Windows,
    graft.operators.Text,
    graft.operators.Dedup,
    graft.operators.Similarity,
    graft.operators.Streaming,
    graft.operators.Udx,
    graft.operators.Multimodal,
    graft.operators.Pipeline,
    graft.operators.Quality,
    graft.operators.DsV2
  )

  lazy val allQueries: Seq[Q] = {
    val qs = modules.flatMap(_.all)
    val dup = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"duplicate query keys: ${dup.mkString(",")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_group")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every result
    * passes through [[oneTaskFinalSort]]; compositions that call another
    * key's `run` directly get the raw frame.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map { q =>
      q.name -> ((s: SparkSession, dir: String) => oneTaskFinalSort(q.run(s, dir)))
    }.toMap

  /** The global sort at the root of `plan`, looking through Projects, and
    * a function that rebuilds `plan` with another node in the sort's place.
    */
  private[graft] def rootSort(plan: LogicalPlan)
      : Option[(Sort, LogicalPlan => LogicalPlan)] = plan match {
    case p: Project =>
      rootSort(p.child).map { case (s, put) => (s, n => p.copy(child = put(n))) }
    case s: Sort if s.global => Some((s, identity))
    case _ => None
  }

  /** The final-sort policy of the determinism contract ([[Q]]). A global
    * sort plans as a range exchange: a sampling job that scans the sort's
    * input a second time, then a shuffle stage. The sort instead runs in
    * one task over its input coalesced to one partition without a
    * shuffle when the input's size estimate is within a bound, and
    * nothing in the input makes more rows than its estimate counts
    * ([[undercounted]]). The coalesce folds the input's last stage into
    * the sort's task, so the bound depends on what that stage holds:
    *  - every path from the input to a leaf crosses a shuffle
    *    ([[shuffledBelow]]): the stage reads shuffled rows and every scan
    *    keeps its tasks. Bound: the AQE advisory partition size, the
    *    partition size AQE coalesces towards.
    *  - otherwise a scan runs in the sort's task, and only plain file or
    *    local leaves qualify ([[plainLeaf]]). Bound:
    *    `spark.sql.files.openCostInBytes`, the bytes Spark reckons a task
    *    scans in the time one file open takes. No file split is smaller,
    *    so a file scan that small plans as one task per file and gives up
    *    no parallelism worth a task.
    * Other inputs keep the range exchange: inputs over their bound, scans
    * that choose their own partitions (V2 sources, bucketed tables, RDDs)
    * and inputs Spark cannot estimate (an RDD leaf reports `Long.MaxValue`).
    * The checks read the plan with cached data substituted, so a cached
    * input counts as the clustered leaf it may be. Streaming frames are
    * left alone. Idempotent: a sort already over a one-partition
    * repartition is not rewritten again.
    */
  private[graft] def oneTaskFinalSort(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val eligible = !df.isStreaming &&
      rootSort(qe.withCachedData).exists(_._1.child match {
        case Repartition(1, _, _) => false
        case in if undercounted(in) => false
        case in if shuffledBelow(in) =>
          fits(in, Bridge.advisoryPartitionBytes(df.sparkSession))
        case in if in.collectLeaves().forall(plainLeaf) =>
          fits(in, Bridge.fileOpenCostBytes(df.sparkSession))
        case _ => false
      })
    if (!eligible) df
    else rootSort(qe.analyzed).fold(df) { case (s, put) =>
      Bridge.ofRows(df.sparkSession,
        put(s.copy(child = Repartition(1, shuffle = false, s.child))))
    }
  }

  private def fits(plan: LogicalPlan, bound: Long): Boolean =
    Try(plan.stats.sizeInBytes <= bound).getOrElse(false)

  /** Whether every path from `plan` to a leaf crosses an operator that
    * plans as a shuffle. Explicit repartitions and operators that need
    * all rows in one partition (a global sort, a limit, a grand
    * aggregate) always count. Operators that cluster rows by key count
    * only over plain file or local leaves: a bucketed, V2, cached or RDD
    * input may already be clustered, and then Spark plans no shuffle. A
    * join never counts: a broadcast join runs in its streamed side's scan
    * stage.
    */
  private def shuffledBelow(plan: LogicalPlan): Boolean = plan match {
    case Repartition(_, true, _) | _: RepartitionByExpression |
        _: RebalancePartitions | _: GlobalLimit => true
    case s: Sort if s.global => true
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case _: Aggregate | _: Window | _: Distinct | _: Deduplicate |
        _: Intersect | _: Except
        if plan.collectLeaves().forall(plainLeaf) => true
    case _: LeafNode => false
    case p => p.children.forall(shuffledBelow)
  }

  /** A non-bucketed file relation or a local relation: a leaf whose
    * partitions follow from its size and carry no clustering.
    */
  private def plainLeaf(leaf: LogicalPlan): Boolean = leaf match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.bucketSpec.isEmpty
      case _ => false
    }
    case _: LocalRelation | _: OneRowRelation => true
    case _ => false
  }

  /** Whether `plan` may make more rows than its size estimate counts: a
    * generator (explode) or an object flatMap is estimated at its input's
    * size. A one-row aggregate or a limit above it caps the estimate.
    */
  private def undercounted(plan: LogicalPlan): Boolean = plan match {
    case _: Generate | _: MapPartitions | _: MapGroups | _: CoGroup |
        _: FlatMapGroupsWithState => true
    case a: Aggregate if a.groupingExpressions.isEmpty => false
    case _: GlobalLimit => false
    case p => p.children.exists(undercounted)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
