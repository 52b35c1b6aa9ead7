package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order layout: correctness (pure reordering) and the actual
  * data-skipping win, measured from the scan's own row metric. */
class ZOrderSpec extends SparkSpec {

  // two independent pseudo-random dims in [0, 1M) — deterministic
  private def data = spark.range(200000).select(
    col("id"),
    pmod(xxhash64(col("id")), lit(1000000L)).as("a"),
    pmod(xxhash64(col("id"), lit(1)), lit(1000000L)).as("b"))

  /** Rows the parquet scan actually emitted (post row-group/page
    * pruning) for a 10% × 10% box filter on (a, b). */
  private def scanRows(path: String): (Long, Long) = {
    val q = spark.read.parquet(path)
      .where(col("a") < 100000L && col("b") < 100000L)
    val matched = q.collect().length.toLong
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    (scan.metrics("numOutputRows").value, matched)
  }

  test("interleave is monotone per dimension and bounded") {
    val rows = spark.range(4).select(
      ZOrder.interleave(col("id"), lit(0L), bits = 2).as("za"),
      ZOrder.interleave(lit(0L), col("id"), bits = 2).as("zb")).collect()
    // a-bits land at even positions (0→0, 1→1, 2→4, 3→5), b-bits at
    // odd (0→0, 1→2, 2→8, 3→10)
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 4L, 5L))
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 2L, 8L, 10L))
  }

  test("N-dim interleave places bit i of dim d at position i*n + d") {
    val rows = spark.range(2).select(
      ZOrder.interleave(Seq(col("id"), lit(0L), lit(0L)), bits = 2).as("z0"),
      ZOrder.interleave(Seq(lit(0L), lit(0L), col("id")), bits = 2).as("z2"))
      .collect()
    // dim 0 bit 0 → position 0; dim 2 bit 0 → position 2
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 4L))
    intercept[IllegalArgumentException] {
      ZOrder.interleave(Seq(col("id"), col("id")), bits = 32)
    }
  }

  test("3-dim z-order write clusters and preserves content") {
    val tmp = SparkSpec.tempDir("zorder3").toString
    val d3 = data.withColumn("c",
      pmod(xxhash64(col("id"), lit(2)), lit(1000000L)))
    ZOrder.writeZOrdered(d3, s"$tmp/z3", Seq("a", "b", "c"), files = 8)
    val back = spark.read.parquet(s"$tmp/z3")
    assert(back.count() == 200000L)
    assert(back.columns.toSet == Set("id", "a", "b", "c"))
  }

  test("z-order layout skips row groups a random layout must read") {
    val tmp = SparkSpec.tempDir("zorder").toString
    data.repartition(16).write.mode("overwrite").parquet(s"$tmp/rand")
    ZOrder.writeZOrdered(data, s"$tmp/zord", "a", "b", files = 16)
    val (randRead, randMatched) = scanRows(s"$tmp/rand")
    val (zRead, zMatched) = scanRows(s"$tmp/zord")
    // pure reordering: identical query results
    assert(zMatched == randMatched && zMatched > 0)
    // the point: the clustered layout's scan reads a small fraction
    // of what the random layout reads for the same box predicate
    assert(zRead * 4 <= randRead,
      s"z-ordered scan read $zRead rows vs random $randRead")
    // and total content is untouched
    assert(spark.read.parquet(s"$tmp/zord").count() == 200000L)
  }
}
