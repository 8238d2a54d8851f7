package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, EqualTo,
  Expression, ExpressionInfo, If, LambdaFunction, Literal, Multiply,
  NamedLambdaVariable, Size, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.DotProduct

/** Catalyst optimizer rule: fuse the declarative higher-order-function dot
  * product — `aggregate(zip_with(a, b, (x, y) -> x * y), 0D,
  * (acc, x) -> acc + x)` — into the codegen'd [[DotProduct]] expression.
  *
  * Spark evaluates HOF lambdas per element outside whole-stage codegen; on
  * O(n^2) similarity joins that interpretation overhead measured ~8x slower
  * than the fused loop (see functions.DotProduct). With this rule a user can
  * write the portable declarative form and still get the fast path — the
  * SURVEY §4 principle of declaring the plan and letting the optimizer pick
  * the execution.
  *
  * Semantics guards (the rewrite must be invisible):
  *  - both inputs must be array<double>; null ELEMENTS null the DotProduct
  *    result exactly as they null the HOF fold (`x * null -> null`,
  *    `acc + null -> null`), see functions.DotProduct;
  *  - zip_with pads the shorter array with nulls, and a null in the fold
  *    nulls the whole sum — so for size(a) != size(b) the HOF result is
  *    ALWAYS null, while DotProduct would stop at min(len). The rewrite
  *    therefore emits `IF(size(a) = size(b), DotProduct(a, b), NULL)`:
  *    bit-identical on every input, and no residual HOF in the output (a
  *    residual would re-match and send transformDown into infinite
  *    recursion). A null ARRAY makes size() null, failing the IF condition
  *    into the null branch — also the HOF result;
  *  - summation order is the identical left-to-right IEEE fold in both forms.
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** x*y (either order) over exactly the two lambda variables. */
  private def isPairwiseProduct(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Multiply(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
        Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      (l.exprId == x.exprId && r.exprId == y.exprId) ||
        (l.exprId == y.exprId && r.exprId == x.exprId)
    case _ => false
  }

  /** acc+x (either order) over exactly the two lambda variables. */
  private def isSum(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Add(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
        Seq(acc: NamedLambdaVariable, x: NamedLambdaVariable), _) =>
      (l.exprId == acc.exprId && r.exprId == x.exprId) ||
        (l.exprId == x.exprId && r.exprId == acc.exprId)
    case _ => false
  }

  /** aggregate()'s implicit finish is the identity lambda. */
  private def isIdentity(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      v.exprId == arg.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b, mult: LambdaFunction),
            Literal(0.0, DoubleType),
            merge: LambdaFunction,
            finish: LambdaFunction)
          if isDoubleArray(a) && isDoubleArray(b) &&
            // the rewrite evaluates a and b twice (Size + DotProduct);
            // duplicating a non-deterministic subexpression would change
            // results, so bail out exactly as Catalyst's own rules do
            a.deterministic && b.deterministic &&
            isPairwiseProduct(mult) && isSum(merge) && isIdentity(finish) =>
        If(EqualTo(Size(a), Size(b)), DotProduct(a, b), Literal(null, DoubleType))
    }
}

/** Session extensions — production entry point for the graft engine:
  * `spark.sql.extensions=graft.plans.GraftExtensions` gives every session
  * the native functions and the optimizer rewrites with no imperative
  * registration calls (VectorFunctions.register stays as the fallback for
  * driver-owned sessions built without the conf).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, s"graft_dot(a, b) takes 2 arguments, got ${exprs.size}")
        DotProduct(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[graft.functions.MinHashAgg].getName, "graft_minhash"),
      (exprs: Seq[Expression]) =>
        graft.functions.MinHashAgg.fromArgs(exprs).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_gram"),
      new ExpressionInfo(classOf[graft.functions.GramAgg].getName, "graft_gram"),
      (exprs: Seq[Expression]) =>
        graft.functions.GramAgg.fromArgs(exprs).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_moments"),
      new ExpressionInfo(classOf[graft.functions.MomentsAgg].getName, "graft_moments"),
      (exprs: Seq[Expression]) =>
        graft.functions.MomentsAgg.fromArgs(exprs).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[graft.functions.TopKAgg].getName, "graft_topk"),
      (exprs: Seq[Expression]) =>
        graft.functions.TopKAgg.fromArgs(exprs).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_topk_exact"),
      new ExpressionInfo(classOf[graft.functions.TopKAgg].getName, "graft_topk_exact"),
      (exprs: Seq[Expression]) =>
        graft.functions.TopKAgg.fromArgs(exprs, requireExact = true).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(classOf[graft.functions.BloomAgg].getName, "graft_bloom"),
      (exprs: Seq[Expression]) =>
        graft.functions.BloomAgg.fromArgs(exprs).toAggregateExpression()))
    SqlSurface.tableFunctions.foreach { case (name, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftTvf].getName, name), builder))
    }
    ext.injectResolutionRule(ResolveGraftTvf.apply)
    ext.injectOptimizerRule(_ => RewriteHofDotProduct)
    ext.injectOptimizerRule(_ => RewriteRankLimit)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}
