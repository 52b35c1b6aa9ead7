package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Checkpoints

/** The IVF index as a SERVED ARTIFACT — the 100 TB shape of
  * approximate nearest neighbor, where q53 computes the index inside
  * one query: [[build]] writes the corpus PARTITIONED BY CELL (the
  * cell id becomes the directory key) next to the tiny centroid
  * table; [[search]] probes each query's nProbe closest cells and the
  * zone scan carries a LITERAL cell predicate, so parquet prunes at
  * the directory level — a 16-cell index with nProbe 4 reads 1/4 of
  * the corpus BY CONSTRUCTION, visible as `PartitionFilters` in the
  * plan (pinned in IvfServeSpec).
  *
  * The fit/assignment spelling is [[Similarity.ivfFit]] — the same
  * code q53 runs — so the served index can never disagree with the
  * in-query path; with nProbe = nCells the served result is
  * bit-identical to q50's brute force (the q53 gate contract, proven
  * from the zone in IvfServeSpec).
  */
object IvfServe {

  /** Fit the seeded quantizer and write the serving zone:
    * `zoneDir/corpus` (cell-partitioned) + `zoneDir/centroids`. */
  def build(s: SparkSession, dir: String, zoneDir: String,
            nCells: Int = Similarity.IvfCells): Unit = {
    val (assigned, cdf) = Similarity.ivfFit(s, dir, nCells)
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$zoneDir/corpus")
    cdf.write.mode("overwrite").parquet(s"$zoneDir/centroids")
  }

  /** The served quantizer's `predict`, replayed from the centroid
    * table alone: argmin squared Euclidean distance, ties → lowest
    * cell id (k-means' first-minimum rule). This is what lets a
    * maintenance batch join the zone WITHOUT the fitted model object
    * — the centroid table is the whole quantizer (spec-pinned equal
    * to the model's own assignment on corpus data). Map-side: the
    * ≤ nCells centroid table broadcasts, the batch streams. */
  def assignByCentroids(s: SparkSession, zoneDir: String,
                        vectors: DataFrame): DataFrame = {
    val cdf = Tables.read(s, s"$zoneDir/centroids")
    // argmin as a partial-aggregated min(struct(d2, cell)) — map-side
    // combine reduces the nCells candidate rows per vector before any
    // exchange; a window spelling would shuffle all of them
    vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cdf))
      .withColumn("d2", expr(
        "aggregate(zip_with(embedding, cvec, (x, c) -> " +
          "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * " +
          "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), " +
          "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        min(struct(col("d2"), col("cell"))).as("m"))
      .select(col("vec_id"), col("embedding"),
        col("m.cell").as("cell"), col("m.d2").as("d2"))
  }

  /** Fold a batch of NEW vectors into the served zone WITHOUT
    * re-fitting: assignment is a broadcast-centroid argmin
    * (map-side, O(batch)), and the append-mode partitioned write
    * touches ONLY the batch's cell directories — never the corpus.
    * Contract: each vec_id arrives exactly once across build +
    * batches. Returns rows appended. */
  def applyBatch(s: SparkSession, zoneDir: String,
                 batch: DataFrame): Long = Checkpoints.scoped { rooted =>
    val assigned = rooted(assignByCentroids(s, zoneDir, batch))
    assigned.select(col("vec_id"), col("embedding"), col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$zoneDir/corpus")
    assigned.count()
  }

  /** Top-k from the zone. `queries` carries (query_id, qv). The
    * distinct probe-cell list collects to ≤ nCells values — a bounded
    * artifact (the bloom-word-array discipline), which is exactly
    * what makes the zone filter LITERAL and the scan
    * partition-pruned; the per-cell re-rank is the exact FloatDot. */
  def search(s: SparkSession, zoneDir: String, queries: DataFrame,
             k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cdf = Tables.read(s, s"$zoneDir/centroids")
    val probed = queries.crossJoin(broadcast(cdf))
      .withColumn("cdot",
        call_function("float_dot", col("qv"), col("cvec")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cdot").desc, col("cell"))))
      .where(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val zone = Tables.read(s, s"$zoneDir/corpus")
      .where(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
    val scored = zone.join(broadcast(probed),
        zone("cell") === probed("cell") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("float_dot", col("embedding"), col("qv"))
          .as("cosine"))
    Similarity.rankTopK(scored, k)
  }
}
