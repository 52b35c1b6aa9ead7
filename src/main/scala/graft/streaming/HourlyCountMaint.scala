package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the q252 anomaly monitor's hourly-count
  * state: each micro-batch of raw events folds into a persistent
  * (event_type, t, c) table — t the absolute hour, c the exact event
  * count — and [[anomalies]] reads the maintained state through the
  * SAME densify + trailing-z-score code the q252 batch gate runs
  * ([[graft.ops.EventOps.anomalyOf]]), so the monitoring stream and
  * the batch scan can never drift (StreamsSpec pins cross-batch
  * drain ≡ batch rows).
  *
  * This is the q252 counterpart of [[ClusterMaint]]'s q144 story:
  * the batch query gates the statistic's exactness; this sink gives
  * it the continuous-deployment shape an on-call traffic monitor
  * actually runs. Counts are abelian state (sum-mergeable), so the
  * fold is O(|batch hours| + |state|) per trigger — never an event
  * rescan — and arrival order cannot matter.
  *
  * Epoch layout for exactly-once (the [[ClusterMaint.foldBatch]]
  * discipline verbatim): batch N reads the newest epoch BELOW N and
  * publishes `epoch=N` via staging + atomic swap — a replayed batch
  * re-derives from the same predecessor and idempotently rewrites the
  * same directory, so crash/replay cannot double-count a batch.
  * State size is bounded by |types| × observed hours — the time
  * range, not the corpus.
  */
object HourlyCountMaint {

  /** Start the maintenance sink over a streaming events DataFrame
    * with columns (event_type, ts). Default trigger drains the
    * available backlog and terminates (the test/backfill mode); a
    * continuous deployment passes its own processing-time trigger. */
  def sink(events: DataFrame, root: String, checkpointDir: String,
           trigger: org.apache.spark.sql.streaming.Trigger =
             org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, root, batchId)
      }
      .trigger(trigger)
      .start()

  /** One fold: newest epoch below `batchId` + the batch's hourly
    * rollup, group-wise summed, published as `epoch=<batchId>`. */
  def foldBatch(batch: DataFrame, root: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val delta = batch
      .select(col("event_type"),
        (datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
          * 24 + hour(col("ts")).cast("long")).as("t"))
      .groupBy(col("event_type"), col("t"))
      .agg(count(lit(1)).as("c"))
      .persist()
    try {
      if (!delta.isEmpty) {
        val merged = readCounts(spark, root, beforeEpoch = Some(batchId))
          .unionByName(delta)
          .groupBy(col("event_type"), col("t"))
          .agg(sum(col("c")).as("c"))
        graft.sinks.SwapPublish.writeEpoch(merged, root, batchId)
      }
    } finally { delta.unpersist(); () }
  }

  /** The current sparse (event_type, t, c) state — newest epoch, or
    * empty. `beforeEpoch` = a replaying batch's predecessor state. */
  def readCounts(spark: SparkSession, root: String,
                 beforeEpoch: Option[Long] = None): DataFrame = {
    import spark.implicits._
    graft.sinks.SwapPublish.readNewest(spark, root,
      Seq.empty[(String, Long, Long)].toDF("event_type", "t", "c"),
      beforeEpoch.getOrElse(Long.MaxValue))
  }

  /** The monitor's readout: the maintained counts, re-densified and
    * scored by the exact q252 statistic. */
  def anomalies(spark: SparkSession, root: String): DataFrame =
    graft.ops.EventOps.anomalyOf(
      graft.ops.EventOps.densify(readCounts(spark, root)))
}
