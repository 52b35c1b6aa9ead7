package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `array<float>` columns.
  *
  * The composable spelling — `aggregate(zip_with(a, b, multiply), …)` —
  * allocates an intermediate array per row and evaluates the lambda
  * through interpreted higher-order-function machinery. For an ANN
  * scoring loop that runs millions of times per task, a custom
  * `Expression` with `doGenCode` keeps the whole loop inside
  * whole-stage codegen: two `ArrayData` reads, one scalar accumulator,
  * zero allocation.
  *
  * Float multiply then double accumulate — bit-compatible with the
  * higher-order spelling it replaces (verified against numpy in the
  * similarity suite), INCLUDING its null semantics: `zip_with` pads the
  * shorter array with nulls and `x * null` is null, so a length
  * mismatch or any null element makes the whole sum null. This
  * expression returns null in exactly those cases rather than silently
  * truncating to the common prefix.
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // null even on non-null inputs (length mismatch / null element)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i) * y.getFloat(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  $acc += $a.getFloat($i) * $b.getFloat($i);
         |}
         |${ev.isNull} = $bad;
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The engine's session extension, declared once by
  * [[graft.util.Sessions.build]] through `spark.sql.extensions` (so
  * every session of the app, `newSession()` included, carries it):
  * the `float_dot` / `int8_dot` / `nfc_normalize` SQL functions, the
  * [[DotFusion]] optimizer rule and the [[graft.plans.TopKStrategy]]
  * planner strategy. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import GraftExtensions._
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_],
           build: Seq[Expression] => Expression): Unit =
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    fn("float_dot", classOf[FloatDot], buildFloatDot)
    fn("nfc_normalize", classOf[NfcNormalize], buildNfc)
    fn("int8_dot", classOf[Int8Dot], buildInt8Dot)
    ext.injectOptimizerRule(_ => DotFusion)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {
  // arity-checked builders: without the match, extra SQL arguments
  // would be SILENTLY DROPPED (children.head) — wrong results with no
  // diagnostic — and zero arguments would throw a raw
  // NoSuchElementException instead of an analysis error
  private val buildFloatDot: Seq[Expression] => Expression = {
    case Seq(a, b) => FloatDot(a, b)
    case args => throw new IllegalArgumentException(
      s"float_dot requires exactly 2 arguments, got ${args.length}")
  }
  private val buildNfc: Seq[Expression] => Expression = {
    case Seq(c) => NfcNormalize(c)
    case args => throw new IllegalArgumentException(
      s"nfc_normalize requires exactly 1 argument, got ${args.length}")
  }
  private val buildInt8Dot: Seq[Expression] => Expression = {
    case Seq(a, b) => Int8Dot(a, b)
    case args => throw new IllegalArgumentException(
      s"int8_dot requires exactly 2 arguments, got ${args.length}")
  }
}
