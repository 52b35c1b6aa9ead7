package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** int8_dot contract: bit-identical to the composable
  * `aggregate(zip_with(a, b, widen-multiply), 0L, sum)` spelling the
  * int8 ANN family used before — including its null semantics (null on
  * length mismatch, null-propagation on null elements, null on null
  * input arrays). Arithmetic is exact BIGINT on both paths, so
  * "bit-identical" here is plain equality. */
class Int8DotSpec extends SparkSpec {
  import spark.implicits._
  import FloatDotSpec.{onParquet, unfused}

  private val composable =
    "aggregate(zip_with(a, b, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x)"

  // Seq[Byte], not Array[Byte]: the Array encoder maps to BINARY,
  // the Seq encoder to array<tinyint> — int8_dot wants the latter
  private lazy val df = onParquet(Seq(
    (Seq(1.toByte, 2.toByte, 3.toByte),
      Seq(4.toByte, 5.toByte, 6.toByte)),                   // plain
    (Seq(127.toByte, -128.toByte), Seq(127.toByte, 127.toByte)), // extremes
    (Seq.empty[Byte], Seq.empty[Byte])                      // empty → 0
  ).toDF("a", "b"))

  test("equal to the composable spelling, extremes included") {
    val rows = df.select(expr("int8_dot(a, b)")).collect()
      .zip(unfused(df, expr(composable))).map { case (f, s) => Row(f(0), s(0)) }
    assert(rows.length == 3)
    rows.foreach { r => assert(r.getLong(0) == r.getLong(1), r.toString) }
    assert(rows(0).getLong(0) == 32L)
    assert(rows(1).getLong(0) == 127L * 127 - 128L * 127)
    assert(rows(2).getLong(0) == 0L)
  }

  test("length mismatch and null elements return null, like zip_with") {
    val t = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = true)
    val weird = onParquet(spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq(1.toByte, 2.toByte), Seq(3.toByte)),        // mismatch
        Row(Seq(1.toByte, null), Seq(3.toByte, 4.toByte)),  // null element
        Row(null, Seq(1.toByte)),                           // null array
        Row(Seq(2.toByte), Seq(3.toByte))),                 // control
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a", t),
        org.apache.spark.sql.types.StructField("b", t)))))
    val rows = weird.select(expr("int8_dot(a, b)")).collect()
      .zip(unfused(weird, expr(composable))).map { case (f, s) => Row(f(0), s(0)) }
    assert(rows.length == 4)
    rows.foreach { r => assert(r.isNullAt(0) == r.isNullAt(1), r.toString) }
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0) && rows(2).isNullAt(0))
    assert(rows(3).getLong(0) == 6L)
  }

  test("DotFusion rewrites the composable int8 spelling to Int8Dot") {
    // parquet-backed: a local relation would constant-fold away
    val codes = graft.sim.Similarity
      .quantize(spark.read.parquet(s"${sf()}/embeddings.parquet"))
      .select(col("vec_id"), col("q_vec").as("a"))
      .limit(50)
    val selfDot =
      "aggregate(zip_with(a, a, (x, y) -> CAST(x AS BIGINT) * " +
        "CAST(y AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    val df2 = codes.select(expr(selfDot).as("d"))
    val fused = df2.queryExecution.optimizedPlan.collectFirst {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[Int8Dot])) => p
    }.isDefined
    assert(fused, df2.queryExecution.optimizedPlan.toString)
    val x = df2.collect().map(_.getLong(0))
    val y = codes.select(expr("int8_dot(a, a)")).collect()
      .map(_.getLong(0))
    assert(x.sameElements(y))
  }

  test("q155 scoring through int8_dot matches the HOF spelling on testdata") {
    // end-to-end: quantize the real corpus, score a 20×20 pair block
    // both ways — exact integer equality, row for row
    val codes = graft.sim.Similarity
      .quantize(spark.read.parquet(s"${sf()}/embeddings.parquet"))
      .where(col("vec_id") < 20)
      .select(col("vec_id"), col("q_vec"))
    val pairs = codes.as("x").join(codes.as("y"),
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("x"), col("y.vec_id").as("y"),
        col("x.q_vec").as("a"), col("y.q_vec").as("b"))
    // the two sides run as separate jobs: line them up by pair
    def byPair(rows: Array[Row]): Seq[((Long, Long), Long)] = rows.toSeq
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue) ->
        r.getLong(2))
      .sortBy(_._1)
    val fast = byPair(pairs.select(col("x"), col("y"), expr("int8_dot(a, b)"))
      .collect())
    val slow = byPair(unfused(pairs, col("x"), col("y"), expr(composable)))
    assert(fast.map(_._1) == slow.map(_._1))
    val rows = fast.zip(slow).map { case ((_, f), (_, s)) => Row(f, s) }
    assert(rows.nonEmpty)
    rows.foreach { r => assert(r.getLong(0) == r.getLong(1)) }
  }
}
