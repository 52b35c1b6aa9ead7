package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract tests for the q173 Lloyd's k-means: monotone objective,
  * nearest-centroid assignment, determinism, and the empty-cluster
  * keep-previous rule on a degenerate fixture. */
class KMeansSpec extends SparkSpec {

  private def inertia(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(sum(col("dist2"))).head().getLong(0)

  test("q173: Lloyd objective is non-increasing round over round") {
    val v = KMeans.fixedZone(spark, sf())
    val init = v.orderBy("vec_id").limit(KMeans.K)
      .select(col("q")).collect().toSeq
      .map(_.getSeq[Long](0).toArray)
    val dims = init.head.length.toLong
    val n = v.count()
    // exact Lloyd is monotone; our centroids are FLOORED integer
    // means, off by < 1 per coordinate, which can raise a squared
    // distance by at most (2·|x−c| + 1) per dim. Coordinates are
    // bounded by the fixed point (|x| ≤ Fp), so the corpus-wide
    // slack per round is n·dims·(4·Fp + 1) — tight enough that a
    // real regression (wrong argmin, wrong mean) still fails.
    val slack = n * dims * (4L * KMeans.Fp + 1)
    var cents = init
    var last = Long.MaxValue
    for (_ <- 1 to KMeans.Iters) {
      val a = KMeans.assign(v, cents)
      val obj = inertia(a)
      assert(obj <= (if (last == Long.MaxValue) last else last + slack),
        s"objective rose beyond rounding slack: $obj > $last + $slack")
      last = obj
      cents = KMeans.update(a, cents)
    }
    assert(inertia(KMeans.assign(v, cents)) <= last + slack)
    // and end-to-end the fit must actually IMPROVE on the init
    // assignment (k seeds from one corner of the id space): a real
    // optimization signal, not just non-explosion
    val initObj = inertia(KMeans.assign(v, init))
    val finalObj = inertia(KMeans.assign(v, cents))
    assert(finalObj <= initObj)
  }

  test("q173: every vector lands on its nearest centroid, ids in range") {
    val out = KMeans.kmeansTopics(spark, sf())
    val n = out.count()
    assert(n == spark.read
      .parquet(s"${sf()}/embeddings.parquet").count())
    val bad = out.where(col("cluster") < 0 ||
      col("cluster") >= KMeans.K).count()
    assert(bad == 0)
    // dist2 is the MIN over centroids by construction of assign();
    // spot-check internal consistency: re-running yields identical rows
    val again = KMeans.kmeansTopics(spark, sf())
    assert(out.collect().toSeq == again.collect().toSeq)
  }

  test("q174: cluster mix honors the budget with contiguous pick ranks") {
    val out = KMeans.clusterMix(spark, sf()).collect()
    assert(out.nonEmpty)
    assert(out.length <= KMeans.ClusterMixTarget)
    // within each cluster the pick ranks are exactly 1..n (the
    // seeded-hash selection keeps a PREFIX of the per-cluster order)
    out.groupBy(_.getInt(0)).foreach { case (_, rows) =>
      val rks = rows.map(_.getLong(2)).sorted
      assert(rks.toSeq == (1L to rks.length).toSeq)
    }
    // no vector picked twice, and re-running is bit-identical
    assert(out.map(_.getLong(1)).distinct.length == out.length)
    assert(KMeans.clusterMix(spark, sf()).collect().toSeq == out.toSeq)
    // the budget fully spends unless some cluster ran out of vectors
    val sizes = KMeans.kmeansTopics(spark, sf())
      .groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val picks = out.groupBy(_.getInt(0)).view.mapValues(_.length.toLong)
    val exhausted = picks.exists { case (c, p) => p == sizes(c) }
    if (!exhausted)
      assert(out.length == KMeans.ClusterMixTarget)
  }

  test("q173: duplicate-heavy corpus keeps empty clusters stable") {
    import spark.implicits._
    val d = SparkSpec.tempDir("kmeans_dupes").toString
    // 12 vectors but only 3 distinct points: init seeds 8 centroids
    // of which several are identical — ties all break to the lowest
    // cid, so the higher duplicates own ZERO members and must keep
    // their previous centroid (not crash, not drift)
    val pts = (0 until 12).map { i =>
      val base = (i % 3).toFloat
      (i.toLong, Array.fill(4)(base))
    }
    pts.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val out = KMeans.kmeansTopics(spark, d).collect()
    assert(out.length == 12)
    // all members of one distinct point land in ONE cluster with
    // dist2 == 0 (its exact centroid survives the integer mean)
    val byPoint = out.groupBy(_.getLong(0) % 3)
    byPoint.foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).distinct.length == 1)
      assert(rows.forall(_.getLong(2) == 0L))
    }
  }

  test("q184 shortlist is exactly the per-topic farthest-k by rank") {
    val out = KMeans.farthestPerTopic(spark, sf()).collect()
    val asg = KMeans.kmeansTopics(spark, sf()).collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getLong(2)))
    // reference: per cluster, (dist2 DESC, vec_id ASC) top-k
    val expected = asg.groupBy(_._1).toSeq.flatMap { case (c, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(KMeans.FarthestK)
        .zipWithIndex.map { case ((_, id, d2), i) => (c, id, d2, i + 1) }
        .toSeq
    }.toSet
    val got = out.map(r => (r.getAs[Int]("cluster"),
      r.getAs[Long]("vec_id"), r.getAs[Long]("dist2"),
      r.getAs[Int]("rank"))).toSet
    assert(got == expected, s"shortlist drifted")
    // every cluster contributes, none exceeds k
    val perC = out.groupBy(_.getAs[Int]("cluster")).view
      .mapValues(_.length).toMap
    assert(perC.values.forall(_ <= KMeans.FarthestK))
    assert(perC.keySet == asg.map(_._1).toSet)
  }
}
