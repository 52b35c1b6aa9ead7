package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The join-view fold must equal the one-shot join for ANY insert
  * interleaving of the two sides (the exactly-one-emitter delta
  * rule), and a dim batch's fact scan must be bucket-pruned. */
class JoinMaintainSpec extends SparkSpec {

  private def tables(): (DataFrame, DataFrame) = {
    val o = Tables.load(spark, sf(), "orders")
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_orderstatus"))
    val c = Tables.load(spark, sf(), "customer")
      .select(col("c_custkey").as("custkey"), col("c_name"))
    (o, c)
  }

  private def rows(df: DataFrame): Set[(Long, Long, String, String)] =
    df.select(col("o_orderkey"), col("custkey"), col("c_name"),
        col("o_orderstatus"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet

  test("out-of-order 5-batch fold equals the one-shot join") {
    val (o, c) = tables()
    val root = SparkSpec.tempDir("jv_fold").toString + "/z"
    val J = JoinMaintain
    // interleaving with BOTH late-dim (orders %5∈{1,3} reference
    // odd customers before they arrive) and late-fact rows
    J.init(spark, root, o.where(col("o_orderkey") % 5 === 0),
      c.where(col("custkey") % 2 === 0), "custkey")
    J.applyFactBatch(spark, root, "custkey",
      o.where(col("o_orderkey") % 5 === 1), 1L)
    J.applyDimBatch(spark, root, "custkey",
      c.where(col("custkey") % 4 === 1), 2L)
    J.applyFactBatch(spark, root, "custkey",
      o.where(col("o_orderkey") % 5 === 2 ||
        col("o_orderkey") % 5 === 3), 3L)
    J.applyDimBatch(spark, root, "custkey",
      c.where(col("custkey") % 4 === 3), 4L)
    J.applyFactBatch(spark, root, "custkey",
      o.where(col("o_orderkey") % 5 === 4), 5L)
    assert(rows(J.read(spark, root)) == rows(o.join(c, "custkey")))
  }

  test("a replayed batch (same id) is a no-op: no double-counted pairs") {
    val (o, c) = tables()
    val root = SparkSpec.tempDir("jv_replay").toString + "/z"
    val J = JoinMaintain
    J.init(spark, root, o.where(col("o_orderkey") % 2 === 0),
      c, "custkey")
    val b1 = o.where(col("o_orderkey") % 2 === 1)
    J.applyFactBatch(spark, root, "custkey", b1, 1L)
    val once = J.read(spark, root).count()
    // foreachBatch replay after a crash-after-commit: marker short-circuits
    J.applyFactBatch(spark, root, "custkey", b1, 1L)
    J.applyFactBatch(spark, root, "custkey", b1, 1L)
    assert(J.read(spark, root).count() == once)
    assert(rows(J.read(spark, root)) == rows(o.join(c, "custkey")))
  }

  test("a half-applied batch (crash before marker) replays idempotently") {
    val (o, c) = tables()
    val root = SparkSpec.tempDir("jv_crash").toString + "/z"
    val J = JoinMaintain
    J.init(spark, root, o.where(col("o_orderkey") % 2 === 0),
      c.where(col("custkey") % 2 === 0), "custkey")
    val bF = o.where(col("o_orderkey") % 2 === 1)
    val bD = c.where(col("custkey") % 2 === 1)
    J.applyFactBatch(spark, root, "custkey", bF, 1L)
    J.applyDimBatch(spark, root, "custkey", bD, 2L)
    // simulate "crash before the marker write" for batch 2: every
    // data write landed, only the commit point is missing — the
    // replay must re-derive and idempotently rewrite, not duplicate
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$root/commits/b2"), false))
    J.applyDimBatch(spark, root, "custkey", bD, 2L)
    assert(rows(J.read(spark, root)) == rows(o.join(c, "custkey")))
  }

  test("a small dim batch's fact scan is bucket-pruned") {
    val (o, c) = tables()
    val root = SparkSpec.tempDir("jv_prune").toString + "/z"
    JoinMaintain.init(spark, root, o, c.limit(0), "custkey")
    val oneKey = c.where(col("custkey") === 7)
    val plan = JoinMaintain.prunedFactScan(spark, root, "custkey",
      oneKey).queryExecution.executedPlan.toString
    assert(plan.matches(
      "(?s).*PartitionFilters: \\[[^\\]]*kb[^\\]]*\\].*"),
      "expected PartitionFilters on kb:\n" + plan)
  }

  test("a fact row whose dim key never arrives stays out of the view") {
    val (o, c) = tables()
    val root = SparkSpec.tempDir("jv_wait").toString + "/z"
    val J = JoinMaintain
    J.init(spark, root, o, c.where(col("custkey") % 2 === 0), "custkey")
    val got = rows(J.read(spark, root))
    val want = rows(o.join(c.where(col("custkey") % 2 === 0), "custkey"))
    assert(got == want)
    assert(!got.exists(_._2 % 2 == 1))
  }
}
