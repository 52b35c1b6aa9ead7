package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, FloatType, LongType}

/** Optimizer rule: dot-product fusion.
  *
  * Rewrites the composable spelling
  * {{{ aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v) }}}
  * over two `array<float>` columns into the native [[FloatDot]]
  * expression. The higher-order form allocates an intermediate array
  * per row and interprets two lambdas; the fused form is one codegen'd
  * loop. Sound including nulls: zip_with pads a length mismatch with
  * nulls and `x * null` null-propagates through the sum — exactly
  * FloatDot's semantics (null on mismatch or any null element), as
  * locked in by FloatDotSpec.
  *
  * Users who write the declarative spelling get the fast path without
  * knowing the custom expression exists — the Spark-first way to ship
  * a kernel. Every session carries it: [[GraftExtensions]] injects it
  * at session build, and only plans holding a higher-order function
  * are walked (one tree-pattern bit test otherwise). Turn it off for a
  * reference run with
  * `spark.sql.optimizer.excludedRules=graft.functions.DotFusion`.
  */
object DotFusion extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def isByteArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(ByteType, _) => true
    case _ => false
  }

  /** `(x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)` — the widened
    * product of the int8 spelling (the bare product would overflow
    * TINYINT, so the casts are load-bearing and required). */
  private def isWidenedProductLambda(fn: Expression): Boolean = fn match {
    case LambdaFunction(mul: Multiply,
        Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      def cv(e: Expression, nv: NamedLambdaVariable): Boolean = e match {
        case Cast(l: NamedLambdaVariable, LongType, _, _) =>
          l.exprId == nv.exprId
        case _ => false
      }
      (cv(mul.left, x) && cv(mul.right, y)) ||
        (cv(mul.left, y) && cv(mul.right, x))
    case _ => false
  }

  /** The merge lambda must be `(acc, v) -> acc + v` modulo the cast the
    * analyzer inserts to widen the float element to the double acc. */
  private def isSumMerge(merge: Expression): Boolean = merge match {
    case LambdaFunction(add: Add,
        Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _) =>
      def is(e: Expression, nv: NamedLambdaVariable): Boolean = e match {
        case x: NamedLambdaVariable => x.exprId == nv.exprId
        case Cast(x: NamedLambdaVariable, DoubleType, _, _) => x.exprId == nv.exprId
        case _ => false
      }
      (is(add.left, acc) && is(add.right, v)) ||
        (is(add.left, v) && is(add.right, acc))
    case _ => false
  }

  /** `(x, y) -> x * y` over exactly the two lambda variables. */
  private def isProductLambda(fn: Expression): Boolean = fn match {
    case LambdaFunction(mul: Multiply,
        Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      (mul.left, mul.right) match {
        case (l: NamedLambdaVariable, r: NamedLambdaVariable) =>
          (l.exprId == x.exprId && r.exprId == y.exprId) ||
            (l.exprId == y.exprId && r.exprId == x.exprId)
        case _ => false
      }
    case _ => false
  }

  private def isIdentityFinish(finish: Expression): Boolean = finish match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      v.exprId == arg.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(
        _.containsPattern(TreePattern.HIGH_ORDER_FUNCTION)) {
      case ArrayAggregate(ZipWith(a, b, zipFn), Literal(0.0, DoubleType),
          merge, finish)
          if isFloatArray(a) && isFloatArray(b) &&
            isProductLambda(zipFn) && isSumMerge(merge) &&
            isIdentityFinish(finish) =>
        FloatDot(a, b)
      // the int8 sibling: array<tinyint> + widened products + 0L seed
      // → the codegen'd Int8Dot (exact BIGINT either way)
      case ArrayAggregate(ZipWith(a, b, zipFn), Literal(0L, LongType),
          merge, finish)
          if isByteArray(a) && isByteArray(b) &&
            isWidenedProductLambda(zipFn) && isSumMerge(merge) &&
            isIdentityFinish(finish) =>
        Int8Dot(a, b)
    }
}
