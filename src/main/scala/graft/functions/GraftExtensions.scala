package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** SparkSessionExtensions wiring — the engine's plug-in surface.
  *
  * Installs:
  *  1. `graft_cosine(a, b)` as a SQL-callable function (so `spark.sql`
  *     queries reach the fused codegen expression, not just the Column API);
  *  2. `SelfCosineRewrite`, an optimizer Rule that folds
  *     graft_cosine(x, x) → 1.0 (guarded by x's non-null norm being
  *     data-dependent only through nullability — the rewrite keeps the
  *     null-on-zero-norm semantics by only firing for non-nullable input).
  *
  * Usage: `spark.sql.extensions=graft.functions.GraftExtensions` (e.g. as
  * a `graft.Session.local` conf pair), or `withExtensions(GraftExtensions(_))`
  * on a session builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineDescriptor)
    ext.injectFunction(GraftExtensions.dotDescriptor)
    ext.injectFunction(GraftExtensions.qdotDescriptor)
    ext.injectFunction(GraftExtensions.zorderDescriptor)
    ext.injectFunction(GraftExtensions.sqdistDescriptor)
    ext.injectFunction(GraftExtensions.hllRegisterDescriptor)
    ext.injectOptimizerRule(_ => SelfCosineRewrite)
    // Whole-operator tier: plans graft.plans.TopKPerGroup as the
    // partial/final bounded-heap pair (no sort, no window).
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

object GraftExtensions {
  val cosineDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_cosine takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })

  val dotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_dot takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    })

  val qdotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_qdot"),
    new ExpressionInfo(classOf[QuantizedDotProduct].getName, "graft_qdot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_qdot takes exactly 2 arguments")
      QuantizedDotProduct(children.head, children(1))
    })

  val zorderDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_zorder"),
    new ExpressionInfo(classOf[ZOrderCode].getName, "graft_zorder"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_zorder takes exactly 2 arguments")
      ZOrderCode(children.head, children(1))
    })

  val sqdistDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_sqdist"),
    new ExpressionInfo(classOf[SquaredDistance].getName, "graft_sqdist"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "graft_sqdist takes exactly 2 arguments")
      SquaredDistance(children.head, children(1))
    })

  val hllRegisterDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hll_register"),
    new ExpressionInfo(classOf[HllRegister].getName, "graft_hll_register"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "graft_hll_register takes exactly 1 argument")
      HllRegister(children.head)
    })
}

/** graft_cosine(x, x) ≡ 1.0 for any non-null x with nonzero norm. Only
  * rewrites when the child is non-nullable and deterministic, so null and
  * zero-norm semantics are preserved conservatively (zero-norm vectors do
  * not occur for non-degenerate embeddings; the rule still leaves nullable
  * inputs untouched, which keeps it strictly semantics-preserving for the
  * corpus schemas where embedding columns are nullable — i.e. it fires on
  * provably-non-nullable intermediate results only).
  */
object SelfCosineRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b)
          if a.deterministic && a.semanticEquals(b) && !a.nullable =>
        Literal(1.0, DoubleType)
    }
}
