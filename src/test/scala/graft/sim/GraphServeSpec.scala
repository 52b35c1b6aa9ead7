package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The served-graph maintenance contract: folding batches must be
  * indistinguishable from rebuilding. */
class GraphServeSpec extends SparkSpec {

  private def graphRows(root: String) =
    GraphServe.read(spark, root).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("qdot")))
      .toMap

  test("maintained graph ≡ one-shot rebuild over any batch split") {
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val full = SparkSpec.tempDir("gs_full").toString
    val inc = SparkSpec.tempDir("gs_inc").toString
    GraphServe.build(spark, emb, full)
    // uneven three-way split, folded out of order of vec_id
    GraphServe.build(spark, emb.where(col("vec_id") % 3 === 1), inc)
    GraphServe.applyBatch(spark, inc, emb.where(col("vec_id") % 3 === 2))
    GraphServe.applyBatch(spark, inc, emb.where(col("vec_id") % 3 === 0))
    assert(graphRows(inc) == graphRows(full),
      "maintained graph drifted from full rebuild")
  }

  test("served graph matches the q155 query surface") {
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val root = SparkSpec.tempDir("gs_q").toString
    GraphServe.build(spark, emb, root)
    val served = graphRows(root)
    val q155 = Similarity.knnGraph(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("qdot")))
      .toMap
    assert(served == q155, "served graph drifted from the q155 surface")
  }

  test("a far-from-everything batch vector rewrites only its own rows") {
    import spark.implicits._
    // 8-dim orthogonal-ish toy corpus; the batch vector is nearly
    // opposite to everything, so it enters NO existing top-k
    // (k = 2 with 4 standing vectors → every anchor already has a
    // full list that the newcomer cannot beat)
    val base = Seq(
      (0L, Array(1f, 0f, 0f, 0f, 0.1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2L, Array(0.8f, 0.2f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (3L, Array(0.7f, 0.3f, 0f, 0f, 0f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val far = Seq((9L, Array(-1f, -1f, -1f, -1f, -1f, -1f, -1f, -1f)))
      .toDF("vec_id", "embedding")
    val root = SparkSpec.tempDir("gs_far").toString
    GraphServe.build(spark, base, root, k = 2)
    val before = graft.sinks.MergeOnRead
      .epochs(spark, s"$root/graph").lastOption.getOrElse(0L)
    GraphServe.applyBatch(spark, root, far, k = 2)
    // the merge epoch holds ONLY the batch anchor's k rows
    val delta = spark.read.parquet(
      s"$root/graph/delta/epoch=${before + 1}")
    val touched = delta.select("query_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(touched == Set(9L),
      s"unchanged anchors were rewritten: $touched")
    // and the fold still equals a rebuild
    val full = SparkSpec.tempDir("gs_far2").toString
    GraphServe.build(spark, base.unionByName(far), full, k = 2)
    assert(graphRows(root) == graphRows(full))
  }
}
