package graft

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
  CTERelationRef, CoGroup, Deduplicate, Distinct, Except,
  FlatMapGroupsWithState, Generate, GlobalLimit, Intersect, Join, LeafNode,
  LocalRelation, LogicalPlan, MapGroups, MapPartitions, OneRowRelation,
  Project, Range, RebalancePartitions, Repartition, RepartitionByExpression,
  Sample, Sort, Window, WindowGroupLimit}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
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
    * passes through [[funnel]]; compositions that call another key's
    * `run` directly get the raw frame.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map { q =>
      q.name -> ((s: SparkSession, dir: String) => funnel(q.run(s, dir)))
    }.toMap

  /** The registry's plan policy ([[Q]]): a frame whose inputs fit one
    * file-open cost runs as one task ([[oneTaskPlan]]); any other frame
    * keeps its plan, except that a small input to its final sort is
    * sorted in one task ([[oneTaskFinalSort]]).
    */
  private[graft] def funnel(df: DataFrame): DataFrame =
    oneTask(df).getOrElse(oneTaskFinalSort(df))

  /** `df` planned as one task ([[oneTaskPlan]]), or the guard that keeps
    * it out: one of [[oneTaskRefusal]]'s, or `exchange` when the one-task
    * plan still shuffles. Spark shuffles both sides of a join, one task
    * each or not, when it estimates either side over
    * `spark.sql.maxSinglePartitionBytes`, and then the plan saves no job;
    * the `output` guard keeps such a side out first unless that bound is
    * set below the advisory partition size.
    */
  private[graft] def oneTask(df: DataFrame): Either[String, DataFrame] =
    oneTaskRefusal(df).toLeft(oneTaskPlan(df)).filterOrElse(
      one => !planNodes(one.queryExecution.executedPlan)
        .exists(_.isInstanceOf[ShuffleExchangeExec]), "exchange")

  /** The nodes of a physical plan: an adaptive plan's current plan (the
    * final plan once executed, the initial one before), the plan each
    * query stage wraps, a reused exchange once, and subqueries.
    */
  private[graft] def planNodes(plan: SparkPlan): Seq[SparkPlan] =
    plan +: (plan match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case r: ReusedExchangeExec => planNodes(r.child)
      case p => (p.children ++ p.subqueries).flatMap(planNodes)
    })

  /** Why [[oneTaskPlan]] does not take `df`, or None when it does. Each
    * guard names a frame whose partitions carry something a single task
    * would lose or could not afford:
    *  - `streaming`: a streaming frame plans per micro-batch;
    *  - `leaf`: a leaf that picks its own partitions or that Spark cannot
    *    size — anything but a non-bucketed file relation, a local
    *    relation, a `Range` or a non-streaming RDD leaf with its origin's
    *    statistics ([[Cut]]);
    *  - `cached`: an input served from the cache, which keeps its
    *    partitions;
    *  - `repartition`: an explicit shuffle repartition, a layout the
    *    query asked for;
    *  - `nondeterministic`, `sample`: values that depend on the partition
    *    index;
    *  - `size`: leaves whose summed `stats.sizeInBytes` is over
    *    `spark.sql.files.openCostInBytes`;
    *  - `output`: an operator of the optimized plan whose output Spark
    *    estimates over the AQE advisory partition size, the bytes AQE
    *    gives one task. A join's estimate is the product of its sides',
    *    so a cross or theta join of small inputs, which may make many
    *    times their rows, stays out. A generator or an object flatMap is
    *    estimated at its input's size, so the rows it makes are not seen
    *    here.
    * Subquery plans count as part of the frame.
    */
  private def oneTaskRefusal(df: DataFrame): Option[String] = {
    val qe = df.queryExecution
    lazy val nodes = qe.analyzed.collectWithSubqueries { case n => n }
    lazy val leaves = dataLeaves(qe.analyzed)
    if (df.isStreaming) Some("streaming")
    else if (!leaves.forall(oneTaskLeaf)) Some("leaf")
    else if (qe.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
      Some("cached")
    else if (nodes.exists {
      case Repartition(_, true, _) | _: RepartitionByExpression |
          _: RebalancePartitions => true
      case _ => false
    }) Some("repartition")
    else if (nodes.exists(_.expressions.exists(!_.deterministic)))
      Some("nondeterministic")
    else if (nodes.exists(_.isInstanceOf[Sample])) Some("sample")
    else if (!Try(leaves.map(l => l.stats.sizeInBytes).sum <=
        Bridge.fileOpenCostBytes(df.sparkSession)).getOrElse(false))
      Some("size")
    else if (!Try(qe.optimizedPlan.collectWithSubqueries {
      case n => n.stats.sizeInBytes
    }.max <= Bridge.advisoryPartitionBytes(df.sparkSession)).getOrElse(false))
      Some("output")
    else None
  }

  /** `df` re-planned to run as one task: under every operator that
    * needs its input clustered (an aggregate, window, join, global sort
    * or grouped map) goes `Repartition(1, shuffle = false)`. It plans as
    * `CoalesceExec(1)`, whose `SinglePartition` satisfies any
    * distribution, so no exchange is planned and the query runs as one
    * job (plus its broadcasts). The coalesce goes into the optimized
    * plan, under the operators the optimizer made too (a distinct
    * aggregate's expand, a subquery's join), and not over each leaf:
    * an expand, a union or a full outer join reports no partitioning,
    * so an operator above one would still plan an exchange. Filters and
    * column pruning are already pushed into each scan. Only for frames
    * [[oneTaskRefusal]] takes; a second pass leaves the plan unchanged.
    */
  private def oneTaskPlan(df: DataFrame): DataFrame = {
    def single(p: LogicalPlan): LogicalPlan = {
      val q = p.mapChildren(single).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(single(s.plan))
      }
      if (!clusters(q)) q
      else q.mapChildren {
        case c @ Repartition(1, false, _) => c
        case c => Repartition(1, shuffle = false, c)
      }
    }
    Bridge.ofRows(df.sparkSession, single(df.queryExecution.optimizedPlan))
  }

  /** Whether `plan` plans as an operator that asks its input for a
    * distribution: rows clustered by key, ordered, or all in one
    * partition. A limit is left out: over a sort it plans as a top-k
    * that gathers its own rows.
    */
  private def clusters(plan: LogicalPlan): Boolean = plan match {
    case _: Aggregate | _: Window | _: WindowGroupLimit | _: Join |
        _: CoGroup | _: MapGroups => true
    case s: Sort => s.global
    case _ => false
  }

  /** The leaves that read rows, with subquery plans: a CTE reference
    * reads its definition, whose leaves are counted where it is defined.
    */
  private def dataLeaves(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collectWithSubqueries {
      case l: LeafNode if !l.isInstanceOf[CTERelationRef] => l
    }

  /** A leaf [[oneTaskPlan]] may coalesce: a plain file or local leaf
    * ([[plainLeaf]]), a `Range`, or a non-streaming RDD leaf that keeps
    * its origin's statistics (a [[Cut]]; an RDD leaf without them is
    * estimated at `Long.MaxValue`).
    */
  private def oneTaskLeaf(leaf: LogicalPlan): Boolean = leaf match {
    case _: Range => true
    case r: LogicalRDD =>
      !r.isStreaming && r.stats.sizeInBytes < r.conf.defaultSizeInBytes
    case l => plainLeaf(l)
  }

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
