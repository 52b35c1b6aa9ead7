package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Kafka-shaped source: wire schema parity, JSON decode with
  * dead-letter routing (offsets preserved for replay), and
  * high-water-mark bookkeeping. */
class KafkaShapedSpec extends SparkSpec {

  private val valueSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("amount", DoubleType)))

  private def writeTopicFile(dir: String): Unit = {
    val lines = Seq(
      // two partitions, offsets out of arrival order within p0
      """{"topic":"ev","partition":0,"offset":7,"ts_ms":1700000000000,"key":"u1","value":"{\"event_id\":1,\"user_id\":10,\"amount\":1.5}"}""",
      """{"topic":"ev","partition":0,"offset":5,"ts_ms":1700000001000,"key":"u2","value":"{\"event_id\":2,\"user_id\":20,\"amount\":2.5}"}""",
      """{"topic":"ev","partition":1,"offset":3,"ts_ms":1700000002000,"key":"u3","value":"{\"event_id\":3,\"user_id\":30,\"amount\":3.5}"}""",
      // corrupt value bytes → dead letter, metadata intact
      """{"topic":"ev","partition":1,"offset":4,"ts_ms":1700000003000,"key":"u4","value":"{not json"}""")
    Files.write(java.nio.file.Paths.get(s"$dir/part-0.json"),
      lines.mkString("\n").getBytes)
  }

  test("wire schema matches the Kafka source schema field-for-field") {
    val dir = SparkSpec.tempDir("kafka_wire").toString
    writeTopicFile(dir)
    val wire = KafkaShaped.simulatedTopic(spark, dir)
    // names + types; nullability legitimately differs (lit(0) is
    // non-null here, and the real source marks metadata non-null)
    assert(wire.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      KafkaShaped.WireSchema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("decode routes corrupt values to dead letter with replayable offsets") {
    val dir = SparkSpec.tempDir("kafka_dlq").toString
    writeTopicFile(dir)
    val decoded = KafkaShaped.decode(
      KafkaShaped.simulatedTopic(spark, dir), valueSchema)
    val (good, bad) = KafkaShaped.deadLetterSplit(decoded)
    Streams.runToMemory(good, "kgood", OutputMode.Append)
    Streams.runToMemory(bad, "kbad", OutputMode.Append)

    val goodRows = spark.table("kgood")
      .select("event_id", "user_id", "amount", "partition", "offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getLong(4))).toSet
    assert(goodRows == Set(
      (1L, 10L, 1.5, 0, 7L), (2L, 20L, 2.5, 0, 5L), (3L, 30L, 3.5, 1, 3L)))

    val badRows = spark.table("kbad")
      .select("topic", "partition", "offset", "raw_value").collect()
    assert(badRows.length == 1)
    val b = badRows.head
    assert(b.getString(0) == "ev" && b.getInt(1) == 1 && b.getLong(2) == 4L)
    assert(b.getString(3) == "{not json") // raw bytes preserved for replay
    // the record key survives too — a dead-lettered record can be
    // re-produced faithfully
    assert(spark.table("kbad").selectExpr("cast(key AS string)")
      .collect().head.getString(0) == "u4")
  }

  test("exactly-once sink: replayed batches do not double-write") {
    val base = SparkSpec.tempDir("kafka_eos").toString
    val in = s"$base/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    writeTopicFile(in)
    val decoded = KafkaShaped.decode(
      KafkaShaped.simulatedTopic(spark, in), valueSchema)
    KafkaShaped.exactlyOnceSink(decoded, s"$base/out", s"$base/offs",
      s"$base/ckpt1")
    val out1 = spark.read.parquet(s"$base/out")
    assert(out1.count() == 4)
    // same input under a FRESH checkpoint: batch 0 replays from scratch
    // — the already-published batch dir makes the write a no-op
    KafkaShaped.exactlyOnceSink(decoded, s"$base/out", s"$base/offs",
      s"$base/ckpt2")
    assert(spark.read.parquet(s"$base/out").count() == 4,
      "replay must not double-write")
    // committed offsets match the batch's high-water marks
    val hwm = spark.read.parquet(s"$base/offs")
      .select("topic", "partition", "hwm", "n").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(hwm.toSeq == Seq(("ev", 0, 7L, 2L), ("ev", 1, 4L, 2L)))
  }

  test("exactly-once sink refuses a batch-id collision carrying different data") {
    val base = SparkSpec.tempDir("kafka_eos2").toString
    val in1 = s"$base/in1"; Files.createDirectories(java.nio.file.Paths.get(in1))
    writeTopicFile(in1)
    KafkaShaped.exactlyOnceSink(
      KafkaShaped.decode(KafkaShaped.simulatedTopic(spark, in1), valueSchema),
      s"$base/out", s"$base/offs", s"$base/ckpt1")
    // a different pipeline (new checkpoint, different offsets) pointed
    // at the same outDir must fail loudly, not silently drop its batch
    val in2 = s"$base/in2"; Files.createDirectories(java.nio.file.Paths.get(in2))
    Files.write(java.nio.file.Paths.get(s"$in2/part-0.json"),
      """{"topic":"ev","partition":0,"offset":99,"ts_ms":1700000009000,"key":"x","value":"{\"event_id\":9,\"user_id\":90,\"amount\":9.5}"}"""
        .getBytes)
    val e = intercept[Exception] {
      KafkaShaped.exactlyOnceSink(
        KafkaShaped.decode(KafkaShaped.simulatedTopic(spark, in2), valueSchema),
        s"$base/out", s"$base/offs", s"$base/ckpt2")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("DIFFERENT offsets")), e.toString)
  }

  test("high-water marks report max offset and count per partition") {
    val dir = SparkSpec.tempDir("kafka_hwm").toString
    writeTopicFile(dir)
    val decoded = KafkaShaped.decode(
      KafkaShaped.simulatedTopic(spark, dir), valueSchema)
    Streams.runToMemory(decoded, "kall", OutputMode.Append)
    val hwm = KafkaShaped.highWaterMarks(spark.table("kall")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(hwm.toSeq == Seq(("ev", 0, 7L, 2L), ("ev", 1, 4L, 2L)))
  }
}
