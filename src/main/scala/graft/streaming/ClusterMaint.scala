package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup

/** Streaming maintenance of a near-dup cluster zone: each micro-batch
  * of candidate pairs — columns (`a`, `b`); e.g.
  * [[Streams.nearDupStream]]'s output after
  * `.select(col("doc_id").as("a"), col("dup_of").as("b"))` — folds
  * into a persistent (id, label) table via
  * [[graft.dedup.Dedup.applyEdgeBatch]] — O(batch + touched clusters)
  * per trigger, never a corpus recompute. The streaming half of the
  * q144 story: the batch query gates the fold's exactness; this sink
  * gives it a continuous deployment shape.
  *
  * Epoch layout for exactly-once: batch N reads the newest epoch
  * BELOW N and overwrites `epoch=N` — a replayed batch re-derives
  * from the same predecessor and idempotently rewrites the same
  * directory, so crash/replay cannot double-fold an edge set
  * (the [[KafkaShaped.exactlyOnceSink]] discipline, applied to a
  * derived table instead of raw data). Readers take the max epoch.
  * Label tables grow with the edge-touched node set only; epochs
  * before the newest are time-travel/debug state and can be reaped
  * like [[graft.sinks.MergeOnRead]] epochs.
  */
object ClusterMaint {

  /** Start the maintenance sink over a streaming pair DataFrame with
    * columns (`a`, `b`). */
  def sink(pairs: DataFrame, root: String,
           checkpointDir: String): StreamingQuery =
    pairs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, root, batchId)
      }
      .start()

  /** One fold: read the newest epoch below `batchId`, apply the
    * batch's edges, publish `epoch=<batchId>`. Exposed for tests and
    * for batch-driven backfills. The epoch is written to a staging
    * dir and ATOMICALLY renamed into place
    * ([[graft.sinks.SwapPublish]] — the exactlyOnceSink discipline):
    * a crash mid-write leaves either no epoch=N or a complete one,
    * so `readLabels`'s max-epoch read can never observe a
    * half-written label table. */
  def foldBatch(batch: DataFrame, root: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val edges = batch.select(col("a"), col("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .persist()
    try {
      if (!edges.isEmpty) {
        val labels = readLabels(spark, root, beforeEpoch = Some(batchId))
        val updated = Dedup.applyEdgeBatch(labels, edges)
        graft.sinks.SwapPublish.writeEpoch(updated, root, batchId)
      }
    } finally { edges.unpersist(); () }
  }

  /** The current (id, label) table — newest epoch, or empty. Pass
    * `beforeEpoch` to time-travel / to read a replaying batch's
    * predecessor state. */
  def readLabels(spark: SparkSession, root: String,
                 beforeEpoch: Option[Long] = None): DataFrame = {
    import spark.implicits._
    graft.sinks.SwapPublish.readNewest(spark, root,
      Seq.empty[(Long, Long)].toDF("id", "label"),
      beforeEpoch.getOrElse(Long.MaxValue))
  }
}
