package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface: the streaming upgrade of the
  * reference's file-delivery semantics (SURVEY.md §2.7 — NiFi's
  * FlowFile queue is a micro-batch file pickup; `readStream` over a
  * directory IS that, with exactly-once bookkeeping instead of
  * queue-drain polling).
  *
  * Batch operators in [[graft.ops.EventOps]] have streaming mirrors
  * here: tumbling windows ≙ q60, session windows ≙ q61.
  * State stores are keyed by (window/session, keys) — at cluster scale
  * the shuffle partitions the state by key, and the watermark bounds
  * state size (late data beyond it is dropped deterministically).
  */
object Streams {

  /** File-source ingest: watch `inDir` for new files (the NiFi pickup
    * replacement). Explicit schema — streaming sources never infer. */
  def fileStream(spark: SparkSession, inDir: String, schema: StructType,
                 format: String = "json"): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", "64") // bounded micro-batches
      .load(inDir)

  /** Tumbling event-time window counts with a watermark (streaming q60).
    * Watermark = allowed lateness; state for closed windows is evicted. */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_value"))

  /** Gap-based session windows per user (streaming q61) — built-in
    * session_window keeps per-key state until the gap closes. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup: drop events whose `event_id` was already
    * seen within the watermark horizon — the streaming mirror of
    * q34/q35. State is keyed by event_id and evicted past the
    * watermark, so memory is bounded by (rate × lateness), not by
    * stream history. */
  def dedupStream(events: DataFrame,
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      // id-ONLY key: a replayed event re-stamped with a different ts
      // must still dedup; dropDuplicatesWithinWatermark keeps state
      // evictable without ts in the key.
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: purchases enriched with the user's
    * clicks in the preceding 10 minutes (the streaming mirror of the
    * q63 range join). Both sides watermarked; the range condition
    * bounds join state retention on each side. */
  def purchaseClickJoin(events: DataFrame,
                        watermark: String = "30 minutes"): DataFrame = {
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"))
  }

  /** Run a streaming query into an in-memory table until all currently
    * available input is processed (test/demo harness; production sinks
    * are parquet/kafka `writeStream`). */
  def runToMemory(df: DataFrame, name: String,
                  outputMode: OutputMode = OutputMode.Update): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
