package graft.examples

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.streaming.Streams

/** Runnable end-to-end example of the streaming surface: drop JSON
  * event files into a watched directory, aggregate with watermarked
  * tumbling and session windows, print the sink tables.
  *
  * Usage: runMain graft.examples.StreamingDemo [workDir]
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft_stream_demo").toString)
    val spark = graft.util.Sessions.build(work)

    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))

    val in = s"$work/incoming"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(in, "batch1.json"), Seq(
      """{"event_id":1,"ts":"2024-01-01T00:10:00Z","user_id":1,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:20:00Z","user_id":1,"event_type":"click","value":2.0}""",
      """{"event_id":3,"ts":"2024-01-01T01:05:00Z","user_id":2,"event_type":"view","value":3.0}""")
      .mkString("\n"))

    Streams.runToMemory(
      Streams.tumblingCounts(Streams.fileStream(spark, in, schema)),
      "tumbling")
    println("== tumbling after batch1 ==")
    spark.table("tumbling").orderBy("window_start_ms", "event_type").show()

    // a second file arrives — new micro-batch input
    Files.writeString(Paths.get(in, "batch2.json"), Seq(
      """{"event_id":4,"ts":"2024-01-01T00:40:00Z","user_id":1,"event_type":"click","value":4.0}""",
      """{"event_id":5,"ts":"2024-01-01T03:00:00Z","user_id":2,"event_type":"view","value":5.0}""")
      .mkString("\n"))
    Streams.runToMemory(
      Streams.tumblingCounts(Streams.fileStream(spark, in, schema)),
      "tumbling2")
    println("== tumbling after batch2 (hour-0 click count should be 3) ==")
    spark.table("tumbling2").orderBy("window_start_ms", "event_type").show()

    Streams.runToMemory(
      Streams.sessionCounts(Streams.fileStream(spark, in, schema)),
      "sessions", OutputMode.Complete)
    println("== session windows (30-min gap) ==")
    spark.table("sessions").orderBy("user_id", "start_ms").show()

    // streaming dedup: duplicate event_id dropped
    Files.writeString(Paths.get(in, "dups.json"), Seq(
      """{"event_id":99,"ts":"2024-01-01T00:50:00Z","user_id":3,"event_type":"click","value":1.0}""",
      """{"event_id":99,"ts":"2024-01-01T00:50:00Z","user_id":3,"event_type":"click","value":1.0}""")
      .mkString("\n"))
    Streams.runToMemory(
      Streams.dedupStream(Streams.fileStream(spark, in, schema)),
      "deduped", OutputMode.Append)
    println("== streaming dedup (event 99 appears once) ==")
    spark.table("deduped").where("event_id = 99").show()

    // stream-stream join: purchase joined to preceding click
    Files.writeString(Paths.get(in, "purchase.json"),
      """{"event_id":50,"ts":"2024-01-01T00:45:00Z","user_id":1,"event_type":"purchase","value":9.0}""")
    Streams.runToMemory(
      Streams.purchaseClickJoin(Streams.fileStream(spark, in, schema)),
      "joined", OutputMode.Append)
    println("== stream-stream join (purchase 50 <- click at 00:40) ==")
    spark.table("joined").show()

    // probe: malformed record in the stream
    Files.writeString(Paths.get(in, "bad.json"), "{not json at all")
    Streams.runToMemory(
      Streams.tumblingCounts(Streams.fileStream(spark, in, schema)),
      "tumbling3")
    println("== after malformed file (corrupt record dropped by schema) ==")
    spark.table("tumbling3").orderBy("window_start_ms", "event_type").show()

    spark.stop()
  }
}
