package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Drives the streaming surface end-to-end: files dropped into a
  * watched directory → watermark + window aggregation → memory sink. */
class StreamsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def writeBatch(dir: String, name: String, rows: String*): Unit =
    Files.writeString(Paths.get(dir, name), rows.mkString("\n"))

  test("file stream → tumbling window counts with watermark") {
    val in = SparkSpec.tempDir("stream_in").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:10:00Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:20:00Z","user_id":1,"event_type":"click","value":2.0}""",
      """{"event_id":3,"ts":"2024-01-01T01:05:00Z","user_id":2,"event_type":"view","value":3.0}""")
    val stream = Streams.fileStream(spark, in, schema)
    assert(stream.isStreaming)
    Streams.runToMemory(
      Streams.tumblingCounts(stream, "1 hour", "2 hours"), "tumbling")
    val out = spark.table("tumbling").collect()
      .map(r => (r.getAs[Long]("window_start_ms"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"))).toSet
    val h0 = 1704067200000L // 2024-01-01T00:00Z
    assert(out == Set((h0, "click", 2L), (h0 + 3600000L, "view", 1L)))
  }

  test("late file arrival updates the open window") {
    val in = SparkSpec.tempDir("stream_in2").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:10:00Z","user_id":1,"event_type":"click","value":1.0}""")
    val stream = Streams.fileStream(spark, in, schema)
    Streams.runToMemory(Streams.tumblingCounts(stream), "late1")
    // second file lands later, same window → rerun picks it up
    writeBatch(in, "b2.json",
      """{"event_id":2,"ts":"2024-01-01T00:40:00Z","user_id":1,"event_type":"click","value":1.0}""")
    Streams.runToMemory(Streams.tumblingCounts(
      Streams.fileStream(spark, in, schema)), "late2")
    val n = spark.table("late2").collect()
      .map(r => r.getAs[Long]("n")).max
    assert(n == 2L)
  }

  test("streaming dedup drops duplicate event ids") {
    val in = SparkSpec.tempDir("stream_dedup").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:01:00Z","user_id":1,"event_type":"view","value":2.0}""")
    Streams.runToMemory(Streams.dedupStream(
      Streams.fileStream(spark, in, schema)), "dedup_out",
      OutputMode.Append)
    val ids = spark.table("dedup_out").collect()
      .map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("stream-stream join: purchases pick up preceding clicks") {
    val in = SparkSpec.tempDir("stream_join").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":5,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:05:00Z","user_id":5,"event_type":"purchase","value":9.0}""",
      """{"event_id":3,"ts":"2024-01-01T00:30:00Z","user_id":5,"event_type":"purchase","value":9.0}""",
      """{"event_id":4,"ts":"2024-01-01T00:06:00Z","user_id":6,"event_type":"purchase","value":9.0}""")
    Streams.runToMemory(Streams.purchaseClickJoin(
      Streams.fileStream(spark, in, schema)), "join_out",
      OutputMode.Append)
    val pairs = spark.table("join_out").collect()
      .map(r => r.getAs[Long]("p_id"))
    // only purchase 2 is within 10 min of user 5's click;
    // purchase 3 is too late, purchase 4 is another user
    assert(pairs.toSeq == Seq(2L))
  }

  test("native session_window works under a streaming watermark") {
    // the q234 batch operator's streaming twin: sessions close (and
    // emit, in append mode) once the watermark passes their end
    val in = SparkSpec.tempDir("stream_sess").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:10:00Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":3,"ts":"2024-01-01T01:30:00Z","user_id":1,"event_type":"click","value":1.0}""")
    writeBatch(in, "b2.json",
      """{"event_id":9,"ts":"2024-01-01T06:00:00Z","user_id":9,"event_type":"click","value":1.0}""")
    writeBatch(in, "b3.json",
      """{"event_id":10,"ts":"2024-01-01T07:00:00Z","user_id":9,"event_type":"click","value":1.0}""")
    import org.apache.spark.sql.functions._
    def oneFile = spark.readStream.format("json").schema(schema)
      .option("maxFilesPerTrigger", "1").load(in)
    val agg = oneFile
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
    Streams.runToMemory(agg, "sess_out", OutputMode.Append)
    val rows = spark.table("sess_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n")))
    // user 1: events at 00:00/00:10 merge (gap 10m), 01:30 is its own
    // session — both closed by the later batches' watermark
    assert(rows.toSet.contains((1L, 2L)))
    assert(rows.toSet.contains((1L, 1L)))
  }

  test("streaming parquet sink with checkpoint resumes exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val in = SparkSpec.tempDir("stream_pq_in").toString
    val out = SparkSpec.tempDir("stream_pq_out").toString
    val ckpt = SparkSpec.tempDir("stream_pq_ckpt").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"click","value":1.0}""")
    def runOnce(): Unit = {
      val q = Streams.fileStream(spark, in, schema)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 1)
    // second run with NO new input: checkpoint prevents reprocessing
    runOnce()
    assert(spark.read.parquet(out).count() == 1)
    // new file arrives → only the delta lands
    writeBatch(in, "b2.json",
      """{"event_id":2,"ts":"2024-01-01T00:02:00Z","user_id":1,"event_type":"view","value":2.0}""")
    runOnce()
    assert(spark.read.parquet(out).count() == 2)
  }

  test("session windows close on gap") {
    val in = SparkSpec.tempDir("stream_in3").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":7,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:10:00Z","user_id":7,"event_type":"click","value":1.0}""",
      """{"event_id":3,"ts":"2024-01-01T02:00:00Z","user_id":7,"event_type":"click","value":1.0}""")
    Streams.runToMemory(Streams.sessionCounts(
      Streams.fileStream(spark, in, schema)), "sessions",
      OutputMode.Complete)
    val sessions = spark.table("sessions").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
    assert(sessions.toSet == Set((7L, 2L), (7L, 1L)))
  }

  test("append-mode replay ≡ batch mirror: closed windows only, late data per watermark") {
    // The append-mode CONTRACT, replayed deterministically: the same
    // tumblingCounts operator over (a) a stream split into four
    // micro-batches (one AvailableNow run per file, one checkpoint —
    // watermark state persists across runs) and (b) a static batch of
    // the ADMITTED rows, restricted to windows the final watermark
    // closed, must emit IDENTICAL rows. Covers both late-data rules:
    // a row behind the watermark is dropped; a late-but-within-
    // watermark row still lands in its (open) window.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.{col, expr}
    val in = SparkSpec.tempDir("stream_append_in").toString
    val out = SparkSpec.tempDir("stream_append_out").toString
    val ck = SparkSpec.tempDir("stream_append_ck").toString
    def runOnce(): Unit = {
      val q = Streams.tumblingCounts(
          Streams.fileStream(spark, in, schema), "1 hour", "1 hour")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // b1: two clicks in [00:00) + a view at 03:30 (→ watermark 02:30)
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:10:00Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:20:00Z","user_id":1,"event_type":"click","value":2.0}""",
      """{"event_id":3,"ts":"2024-01-01T03:30:00Z","user_id":2,"event_type":"view","value":3.0}""")
    runOnce()
    // b2: 00:40 click is BEHIND the 02:30 watermark (dropped); 03:40
    // view is late-but-admissible ([03:00) still open); 05:30 view
    // advances the watermark to 04:30
    writeBatch(in, "b2.json",
      """{"event_id":4,"ts":"2024-01-01T00:40:00Z","user_id":1,"event_type":"click","value":9.0}""",
      """{"event_id":5,"ts":"2024-01-01T03:40:00Z","user_id":2,"event_type":"view","value":4.0}""",
      """{"event_id":6,"ts":"2024-01-01T05:30:00Z","user_id":2,"event_type":"view","value":5.0}""")
    runOnce()
    // b3/b4: watermark carriers so [03:00) then [05:00) flush
    writeBatch(in, "b3.json",
      """{"event_id":7,"ts":"2024-01-01T08:30:00Z","user_id":3,"event_type":"click","value":1.0}""")
    runOnce()
    writeBatch(in, "b4.json",
      """{"event_id":8,"ts":"2024-01-01T11:30:00Z","user_id":3,"event_type":"click","value":1.0}""")
    runOnce()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("window_start_ms"),
        r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("sum_value"))).toSet
    // batch mirror: same operator, static input = all rows EXCEPT the
    // watermark-dropped one; closed = window end ≤ the FINAL
    // watermark (10:30 — AvailableNow runs a trailing no-data batch,
    // so windows closed by the last file's own watermark flush too)
    val admitted = spark.read.schema(schema)
      .json(in).where(col("event_id") =!= 4)
    val finalWmMs = 1704067200000L + (10 * 60 + 30) * 60000L
    val mirror = Streams.tumblingCounts(admitted, "1 hour", "1 hour")
      .where(col("window_start_ms") + expr("3600000") <= finalWmMs)
      .collect()
      .map(r => (r.getAs[Long]("window_start_ms"),
        r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("sum_value"))).toSet
    assert(got == mirror, s"append output $got != batch mirror $mirror")
    // and the mirror is the three expected closed windows
    val h0 = 1704067200000L
    assert(mirror == Set(
      (h0, "click", 2L, 3.0),
      (h0 + 3 * 3600000L, "view", 2L, 7.0),
      (h0 + 5 * 3600000L, "view", 1L, 5.0),
      (h0 + 8 * 3600000L, "click", 1L, 1.0)))
  }
}
