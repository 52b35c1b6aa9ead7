package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The served IVF zone's contract: probe-all from the zone is
  * bit-identical to brute force (q53's gate contract, now proven
  * THROUGH the build/serve round trip), the zone scan is genuinely
  * partition-pruned, and a partial probe keeps usable recall. */
class IvfServeSpec extends SparkSpec {

  private lazy val zone: String = {
    val d = SparkSpec.tempDir("ivf_zone").toString
    IvfServe.build(spark, sf(), d)
    d
  }

  private def queries = graft.Tables.load(spark, sf(), "embeddings")
    .where(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  test("probe-all from the zone is bit-identical to brute force") {
    val brute = Similarity.knnBrute(spark, sf(), k = 5).collect()
    val served = IvfServe.search(spark, zone, queries, k = 5,
      nProbe = Similarity.IvfCells).collect()
    assert(served.sameElements(brute))
  }

  test("the zone scan is partition-pruned to the probed cells") {
    val plan = IvfServe.search(spark, zone, queries, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.matches(
      "(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"),
      "expected PartitionFilters on cell:\n" + plan)
  }

  test("assignByCentroids replays the fitted model's own assignment") {
    val fromModel = spark.read.parquet(s"$zone/corpus")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val replayed = IvfServe.assignByCentroids(spark, zone,
        graft.Tables.load(spark, sf(), "embeddings")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(replayed == fromModel)
  }

  test("applyBatch: O(batch) cell appends, search ≡ brute over the union") {
    // zone built on a PARTIAL corpus (vec_id >= 50), then the missing
    // vectors fold in as a maintenance batch — no re-fit
    val all = graft.Tables.load(spark, sf(), "embeddings")
    val tmpA = SparkSpec.tempDir("ivf_partial").toString
    all.where(col("vec_id") >= 50)
      .write.mode("overwrite").parquet(s"$tmpA/embeddings.parquet")
    val zone2 = SparkSpec.tempDir("ivf_zone_inc").toString
    IvfServe.build(spark, tmpA, zone2)
    def files(): Set[String] = {
      val root = new java.io.File(s"$zone2/corpus")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val before = files()
    val batch = all.where(col("vec_id") < 50)
    val batchCells = IvfServe.assignByCentroids(spark, zone2, batch)
      .select("cell").distinct().collect()
      .map(_.getAs[Int]("cell")).toSet
    val n = IvfServe.applyBatch(spark, zone2, batch)
    assert(n == 50)
    val added = files() -- before
    // append-mode write: nothing rewritten, new files ONLY under the
    // batch's own cell directories — the O(batch) contract
    assert(files().intersect(before) == before)
    assert(added.nonEmpty && added.forall { p =>
      "cell=(\\d+)".r.findFirstMatchIn(p)
        .exists(m => batchCells.contains(m.group(1).toInt))
    }, s"files outside batch cells: $added")
    // probe-all search from the maintained zone ≡ brute force over
    // the FULL corpus — the q53/q163 gate contract, now through the
    // incremental path (probe-all makes the A-only fit irrelevant)
    val served = IvfServe.search(spark, zone2, queries, k = 5,
      nProbe = Similarity.IvfCells).collect()
    val brute = Similarity.knnBrute(spark, sf(), k = 5).collect()
    assert(served.sameElements(brute))
    // same-distribution batch does not trip the drift check…
    assert(!IvfServe.driftNeeded(spark, zone2))
    // …but a distribution shift (norm-3 vectors, far off the unit
    // shell the quantizer was fit on) must
    IvfServe.applyBatch(spark, zone2,
      all.where(col("vec_id") < 50)
        .select((col("vec_id") + 1000000).as("vec_id"),
          expr("transform(embedding, x -> x * CAST(3.0 AS FLOAT))")
            .as("embedding")))
    assert(IvfServe.driftNeeded(spark, zone2))
  }

  test("partial probe keeps usable recall vs brute force") {
    val brute = Similarity.knnBrute(spark, sf(), k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val served = IvfServe.search(spark, zone, queries, k = 5, nProbe = 4)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val recall = (brute & served).size.toDouble / brute.size
    assert(recall >= 0.3, s"served recall $recall")
  }
}
