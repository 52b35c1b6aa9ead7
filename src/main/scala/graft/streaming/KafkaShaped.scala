package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Kafka-SHAPED source plumbing — everything around a Kafka topic
  * except the broker connection (no Kafka client ships in this build;
  * `spark-sql-kafka` exposes exactly this schema, so swapping
  * [[simulatedTopic]] for `spark.readStream.format("kafka")` is a
  * one-line change and nothing downstream moves):
  *
  *  - [[WireSchema]]: the record shape Spark's Kafka source emits
  *    (key/value bytes + topic/partition/offset/timestamp metadata);
  *  - [[decode]]: value-bytes → typed columns via `from_json`, with
  *    malformed records ROUTED, not dropped — the wire metadata rides
  *    along so a dead-lettered record can be replayed by offset;
  *  - [[highWaterMarks]]: per-(topic, partition) max offset + count of
  *    a micro-batch — what an exactly-once sink commits atomically with
  *    its output so restarts resume instead of re-emitting;
  *  - [[simulatedTopic]]: a file-backed stand-in emitting [[WireSchema]]
  *    records for tests and demos.
  */
object KafkaShaped {

  /** The record schema of Spark's Kafka source, field for field. */
  val WireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Wire-metadata columns every decoded row carries — including the
    * record `key`, so keyed semantics (compaction, per-key dedup) and
    * faithful dead-letter replay survive the decode. */
  private val Meta = Seq("key", "topic", "partition", "offset")

  /** Decode JSON value bytes into `valueSchema` columns. Rows whose
    * value fails to parse keep `decode_error = true` and the raw value
    * in `raw_value` — split with [[deadLetterSplit]]; nothing is
    * silently dropped. A row is malformed when EVERY target field is
    * null but the raw bytes are non-null (from_json PERMISSIVE
    * semantics), which distinguishes corrupt bytes from a legitimate
    * all-null record only when the schema has at least one required
    * field in practice — documents the same contract as
    * Streams.deadLetterStream. */
  def decode(wire: DataFrame, valueSchema: StructType): DataFrame = {
    require(valueSchema.fields.nonEmpty,
      "decode requires a non-empty value schema")
    val parsed = wire
      .withColumn("raw_value", col("value").cast("string"))
      .withColumn("v", from_json(col("raw_value"), valueSchema))
    val allNull = valueSchema.fieldNames
      .map(f => col("v").getField(f).isNull)
      .reduce(_ && _)
    parsed.select(
      Meta.map(col) ++
        Seq(col("timestamp").as("kafka_ts"),
          (col("raw_value").isNotNull && allNull).as("decode_error"),
          col("raw_value")) ++
        valueSchema.fieldNames.map(f => col("v").getField(f).as(f)): _*)
  }

  /** (good, bad) split of a decoded batch/stream. */
  def deadLetterSplit(decoded: DataFrame): (DataFrame, DataFrame) =
    (decoded.where(!col("decode_error")).drop("decode_error", "raw_value"),
      decoded.where(col("decode_error"))
        .select((Meta :+ "kafka_ts" :+ "raw_value").map(col): _*))

  /** Per-(topic, partition) high-water mark + row count of a batch —
    * the offsets an exactly-once sink commits with its output. */
  def highWaterMarks(batch: DataFrame): DataFrame =
    batch.groupBy(col("topic"), col("partition"))
      .agg(max(col("offset")).as("hwm"), count(lit(1)).as("n"))
      .orderBy("topic", "partition")

  /** Exactly-once batch sink: each micro-batch lands in
    * `outDir/batch_id=N` (a staging + rename publish via the shared
    * [[graft.sinks.SwapPublish]]) and its high-water marks in
    * `offsetsDir/batch_id=N` AFTER the data is live — so a crash at any
    * point leaves either nothing, or published data awaiting its
    * offsets (healed on replay), never offsets advertising unpublished
    * data. A replayed batch id is VERIFIED, not blindly skipped: its
    * high-water marks must match the committed ones, so pointing a
    * fresh checkpoint with different data at an old outDir fails loudly
    * instead of silently dropping the batch. This is the standard
    * idempotent-foreachBatch contract: Structured Streaming guarantees
    * a deterministic (batchId → input) mapping under ONE checkpoint;
    * the sink makes the write idempotent per batchId and detects the
    * cross-checkpoint misuse it cannot make safe. */
  def exactlyOnceSink(decoded: DataFrame, outDir: String, offsetsDir: String,
                      checkpointDir: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val q = decoded.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val hconf = spark.sparkContext.hadoopConfiguration
        val out = new org.apache.hadoop.fs.Path(s"$outDir/batch_id=$batchId")
        val offs =
          new org.apache.hadoop.fs.Path(s"$offsetsDir/batch_id=$batchId")
        val fs = out.getFileSystem(hconf)
        batch.persist()
        try {
          val hwm = highWaterMarks(batch)
          if (fs.exists(out)) {
            if (fs.exists(offs)) {
              // replay: the committed offsets must describe THIS batch
              val committed = Tables.read(spark, offs.toString)
                .collect().map(_.toSeq).toSet
              val current = hwm.collect().map(_.toSeq).toSet
              if (committed != current)
                sys.error(s"exactlyOnceSink: batch $batchId already " +
                  s"published with DIFFERENT offsets ($committed vs " +
                  s"$current) — outDir is shared with another pipeline " +
                  "or the checkpoint was reset over new data")
            } else {
              // crash landed between data publish and offsets write:
              // heal the offsets, data is already exactly-once
              hwm.write.mode("overwrite").parquet(offs.toString)
            }
          } else {
            graft.sinks.SwapPublish.writeStaged(batch, outDir,
              out.getName, batchId)
            hwm.write.mode("overwrite").parquet(offs.toString)
          }
        } finally batch.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** File-backed topic: stream JSON lines shaped
    * `{topic, partition, offset, ts_ms, key, value}` from `dir` and
    * emit [[WireSchema]] records. Used by tests/demos; a real
    * deployment replaces this one call with the kafka format. */
  def simulatedTopic(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = StructType(Seq(
      StructField("topic", StringType),
      StructField("partition", IntegerType),
      StructField("offset", LongType),
      StructField("ts_ms", LongType),
      StructField("key", StringType),
      StructField("value", StringType)))
    spark.readStream.format("json").schema(fileSchema)
      .option("maxFilesPerTrigger", "64")
      .load(dir)
      .select(
        col("key").cast("binary").as("key"),
        col("value").cast("binary").as("value"),
        col("topic"),
        col("partition"),
        col("offset"),
        timestamp_millis(col("ts_ms")).as("timestamp"),
        lit(0).as("timestampType"))
  }
}
