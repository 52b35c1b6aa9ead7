package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** float_dot contract: bit-identical to the composable
  * `aggregate(zip_with(a, b, multiply), 0d, sum)` spelling — including
  * its null semantics (null on length mismatch, null-propagation on
  * null elements, null on null input arrays). */
class FloatDotSpec extends SparkSpec {
  import FloatDotSpec.{onParquet, unfused}
  import spark.implicits._

  private val composable =
    "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)"

  private lazy val df = onParquet(Seq(
    (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),   // plain
    (Array(0.1f, 0.2f), Array(0.3f, 0.7f)),               // inexact floats
    (Array.empty[Float], Array.empty[Float])              // empty → 0.0
  ).toDF("a", "b"))

  test("bit-identical to the composable spelling on equal-length arrays") {
    val rows = df.select(expr("float_dot(a, b)")).collect()
      .zip(unfused(df, expr(composable))).map { case (f, s) => Row(f(0), s(0)) }
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
  }

  test("length mismatch and null elements return null, like zip_with") {
    val weird = onParquet(spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq(1.0f, 2.0f), Seq(3.0f)),                    // mismatch
        Row(Seq(1.0f, null), Seq(3.0f, 4.0f)),              // null element
        Row(null, Seq(1.0f)),                               // null array
        Row(Seq(1.0f), Seq(2.0f))),                         // control
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = true)),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType, containsNull = true))))))
    val rows = weird.select(expr("float_dot(a, b)")).collect()
      .zip(unfused(weird, expr(composable))).map { case (f, s) => Row(f(0), s(0)) }
    assert(rows.length == 4)
    rows.foreach { r => assert(r.isNullAt(0) == r.isNullAt(1), r.toString) }
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0) && rows(2).isNullAt(0))
    assert(rows(3).getDouble(0) == 2.0)
  }

  test("DotFusion rewrites the composable spelling to FloatDot") {
    // a parquet-backed source: a purely local relation would be
    // constant-folded away before the fused expression is observable
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("a"))
      .limit(50)
    val comp =
      "aggregate(zip_with(a, a, (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)"
    val df2 = emb.select(expr(comp).as("d"))
    val fused = df2.queryExecution.optimizedPlan.collectFirst {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[FloatDot])) => p
    }.isDefined
    assert(fused, df2.queryExecution.optimizedPlan.toString)
    // fused results bit-match the direct expression
    val a = df2.collect().map(_.getDouble(0))
    val b = emb.select(expr("float_dot(a, a)")).collect().map(_.getDouble(0))
    assert(a.zip(b).forall { case (x, y) =>
      java.lang.Double.doubleToLongBits(x) ==
        java.lang.Double.doubleToLongBits(y)
    })
  }

  test("interpreted eval agrees with codegen") {
    // force the interpreted path through a non-codegen context: eval on
    // the expression directly
    val e = FloatDot(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0f, 2.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, false)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(3.0f, 4.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, false)))
    assert(e.eval(null) == 11.0)
    val mismatch = FloatDot(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, false)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(3.0f, 4.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, false)))
    assert(mismatch.eval(null) == null)
  }
}

object FloatDotSpec {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.scalatest.Assertions._

  /** `d` written to parquet and read back in its row order. Both sides
    * of a bit-identity check must run over a scan: over a local
    * relation, `ConvertToLocalRelation` evaluates both spellings with
    * interpreted `eval` before [[DotFusion]] runs, so neither the
    * codegen'd kernel nor the HOF is ever compared. */
  def onParquet(d: DataFrame): DataFrame = {
    val dir = graft.SparkSpec.tempDir("graft-dot-").resolve("t").toString
    d.withColumn("_i", monotonically_increasing_id()).coalesce(1)
      .write.parquet(dir)
    d.sparkSession.read.parquet(dir).orderBy("_i").drop("_i")
  }

  /** The reference side of a bit-identity check: `d.select(cols)`
    * planned and collected with [[DotFusion]] in
    * `spark.sql.optimizer.excludedRules` (restored after), so the
    * composable spelling is not rewritten into the kernel it is
    * compared against — asserted on its optimized plan. */
  def unfused(d: DataFrame, cols: Column*): Array[Row] = {
    val conf = d.sparkSession.conf
    val k = "spark.sql.optimizer.excludedRules"
    val prev = conf.getOption(k)
    conf.set(k, DotFusion.ruleName)
    try {
      val ref = d.select(cols: _*)
      val plan = ref.queryExecution.optimizedPlan
      assert(!plan.exists(_.expressions.exists(_.exists {
        case _: FloatDot | _: Int8Dot => true
        case _ => false
      })), plan.toString)
      ref.collect()
    } finally prev.fold(conf.unset(k))(conf.set(k, _))
  }
}
