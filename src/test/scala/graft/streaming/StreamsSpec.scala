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

  test("outer stream-stream join: unmatched purchase emits nulls " +
    "only after the watermark closes its window") {
    val in = SparkSpec.tempDir("stream_join_outer").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:15:00Z","user_id":5,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:20:00Z","user_id":5,"event_type":"purchase","value":9.0}""",
      """{"event_id":3,"ts":"2024-01-01T00:20:00Z","user_id":6,"event_type":"purchase","value":9.0}""")
    // one file per trigger so each later file is its OWN batch — the
    // watermark only advances at batch boundaries, and the outer
    // join's null row is released by that advancement
    def oneFileStream = spark.readStream.format("json").schema(schema)
      .option("maxFilesPerTrigger", "1").load(in)
    Streams.runToMemory(Streams.purchaseClickJoinOuter(oneFileStream),
      "outer1", OutputMode.Append)
    val matched = spark.table("outer1").collect()
    // the matched pair flows immediately; purchase 3 (no click) is
    // still held — a future click could match it
    assert(matched.map(_.getAs[Long]("p_id")).toSeq == Seq(2L))
    assert(matched.head.getAs[java.sql.Timestamp]("c_ts") != null)
    // watermark advancers on BOTH sides (the global watermark is the
    // MIN of the per-side watermarks — a click-only advancer would
    // leave the purchase side, and so the join state, frozen): 02:00
    // moves wm to 01:30 > purchase-3's window end; the third batch
    // flushes the eviction
    writeBatch(in, "b2.json",
      """{"event_id":8,"ts":"2024-01-01T02:00:00Z","user_id":9,"event_type":"click","value":1.0}""",
      """{"event_id":18,"ts":"2024-01-01T02:00:00Z","user_id":9,"event_type":"purchase","value":1.0}""")
    writeBatch(in, "b3.json",
      """{"event_id":9,"ts":"2024-01-01T03:00:00Z","user_id":9,"event_type":"click","value":1.0}""",
      """{"event_id":19,"ts":"2024-01-01T03:00:00Z","user_id":9,"event_type":"purchase","value":1.0}""")
    Streams.runToMemory(Streams.purchaseClickJoinOuter(oneFileStream),
      "outer2", OutputMode.Append)
    val rows = spark.table("outer2").collect()
      .map(r => (r.getAs[Long]("p_id"),
        Option(r.getAs[java.sql.Timestamp]("c_ts"))))
    assert(rows.toSet.contains((2L,
      Some(java.sql.Timestamp.valueOf("2024-01-01 00:15:00")))))
    // the unmatched purchase is now out with NULL click columns
    assert(rows.toSet.contains((3L, None)))
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

  test("corrupt records quarantine to the dead-letter sink") {
    val in = SparkSpec.tempDir("stream_dl_in").toString
    val good = SparkSpec.tempDir("stream_dl_good").toString + "/out"
    val bad = SparkSpec.tempDir("stream_dl_bad").toString + "/out"
    val ckpt = SparkSpec.tempDir("stream_dl_ckpt").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"click","value":1.0}""",
      """this is not json at all""",
      """{"event_id":2,"ts":"2024-01-01T00:01:00Z","user_id":2,"event_type":"view","value":2.0}""",
      """{"event_id":3,"ts":"BROKEN_TS,"user_id":""")
    Streams.runWithDeadLetter(
      Streams.deadLetterStream(spark, in, schema), good, bad, ckpt)
    val goodRows = spark.read.parquet(good)
    assert(goodRows.count() == 2)
    assert(goodRows.columns.toSeq == schema.fieldNames.toSeq) // no corrupt col
    val badRows = spark.read.parquet(bad).collect()
    assert(badRows.length == 2)
    val payloads = badRows.map(_.getAs[String]("raw_payload")).toSet
    assert(payloads.exists(_.contains("not json")))
    assert(payloads.exists(_.contains("BROKEN_TS"))) // raw line preserved
    // re-run with no new input: checkpoint prevents double quarantine
    Streams.runWithDeadLetter(
      Streams.deadLetterStream(spark, in, schema), good, bad, ckpt)
    assert(spark.read.parquet(bad).count() == 2)
  }

  test("stream-static dimension enrichment joins per micro-batch") {
    val in = SparkSpec.tempDir("stream_dim_in").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":10,"event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01T00:01:00Z","user_id":99,"event_type":"view","value":2.0}""")
    import spark.implicits._
    val dim = Seq((10L, "alice"), (20L, "bob")).toDF("dim_user", "name")
    val enriched = Streams.enrichWithDim(
      Streams.fileStream(spark, in, schema), dim, "user_id", "dim_user")
    Streams.runToMemory(enriched, "enriched", OutputMode.Append)
    val rows = spark.table("enriched").collect()
      .map(r => (r.getAs[Long]("event_id"), Option(r.getAs[String]("name"))))
      .toSet
    // matched key enriched; unmatched key kept with null dim (left join)
    assert(rows == Set((1L, Some("alice")), (2L, None)))
  }

  test("flatMapGroupsWithState keeps running per-user totals") {
    val in = SparkSpec.tempDir("stream_state_in").toString
    writeBatch(in, "b1.json",
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":1,"event_type":"click","value":1.5}""",
      """{"event_id":2,"ts":"2024-01-01T00:01:00Z","user_id":1,"event_type":"click","value":2.5}""",
      """{"event_id":3,"ts":"2024-01-01T00:02:00Z","user_id":2,"event_type":"view","value":4.0}""")
    val totals = Streams.runningTotalsWithTimeout(
      Streams.fileStream(spark, in, schema))
    Streams.runToMemory(totals, "totals", OutputMode.Append)
    val rows = spark.table("totals").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"),
        r.getAs[Double]("sum"), r.getAs[Boolean]("closed"))).toSet
    assert(rows == Set((1L, 2L, 4.0, false), (2L, 1L, 4.0, false)))
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
  test("rate limit: backlog drains as bounded micro-batches") {
    val in = SparkSpec.tempDir("rate_in").toString
    val ckpt = SparkSpec.tempDir("rate_ckpt").toString
    // 6 files x 2 rows; cap at 2 files/trigger -> >= 3 batches,
    // each at most 4 rows
    (1 to 6).foreach { i =>
      writeBatch(in, s"f$i.json",
        s"""{"event_id":${i * 2},"ts":"2024-01-01T00:0$i:00Z","user_id":$i,"event_type":"click","value":1.0}""",
        s"""{"event_id":${i * 2 + 1},"ts":"2024-01-01T00:0$i:30Z","user_id":$i,"event_type":"view","value":2.0}""")
    }
    val stream = Streams.rateLimitedStream(spark, in, schema,
      maxFilesPerTrigger = 2)
    val stats = Streams.drainWithBatchStats(stream, ckpt)
    assert(stats.map(_._2).sum == 12, s"all rows processed: $stats")
    assert(stats.count(_._2 > 0) >= 3, s"expected >= 3 data batches: $stats")
    assert(stats.forall(_._2 <= 4), s"batch exceeded admission bound: $stats")
  }

  test("cluster-maint sink: epochs fold to full-CC labels; replay is safe") {
    import spark.implicits._
    val root = SparkSpec.tempDir("clusters_zone").toString
    // three micro-batches whose union is {1,2,3,4}+{7,8} components;
    // batch 2 BRIDGES the first two clusters via (2,3)
    val batches = Seq(
      Seq((1L, 2L), (3L, 4L)),
      Seq((2L, 3L)),
      Seq((7L, 8L)))
    batches.zipWithIndex.foreach { case (edges, i) =>
      ClusterMaint.foldBatch(edges.toDF("a", "b"), root, i.toLong)
    }
    def labels() = ClusterMaint.readLabels(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L)
    assert(labels() == expected)
    // crash/replay of batch 1: re-derives from epoch 0, idempotent
    ClusterMaint.foldBatch(batches(1).toDF("a", "b"), root, 1L)
    assert(labels() == expected, "replay must not double-fold")
    // time travel: before the bridge, 3-4 was its own cluster
    val e0 = ClusterMaint.readLabels(spark, root, beforeEpoch = Some(1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e0 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("streaming near-dup flags an edited doc from an EARLIER batch") {
    val in = SparkSpec.tempDir("neardup_in").toString
    val ckpt = SparkSpec.tempDir("neardup_ckpt").toString
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val edited = base.replace("lazy", "sleepy") // near-dup, not exact
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    def row(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text"}"""
    // batch 1: two distinct docs; batch 2: an edit of doc 1 + a fresh doc
    writeBatch(in, "b1.json", row(1, base),
      row(2, "completely different words about spark shuffles and joins " +
        "with partitions and exchanges everywhere all the time"))
    writeBatch(in, "b2.json", row(3, edited),
      row(4, "yet another unrelated document mentioning parquet files " +
        "and bloom filters and column pruning for good measure"))
    // one file per trigger -> the match is genuinely CROSS-batch state
    val stream = Streams.rateLimitedStream(spark, in, docSchema,
      maxFilesPerTrigger = 1)
    val pairs = Streams.nearDupStream(stream, threshold = 0.5)
    val q = pairs.writeStream.format("memory").queryName("neardup")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // orientation depends on file admission order (mtime ties break
    // arbitrarily), so normalize pairs before asserting
    val found = spark.table("neardup")
      .select("doc_id", "dup_of").distinct().collect()
      .map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.toSet
    assert(found == Set((1L, 3L)),
      s"expected exactly the planted near-dup pair, got: $found")
  }

  test("heavy hitters accumulate across batches in keyed state") {
    val in = SparkSpec.tempDir("hh_in").toString
    val ckpt = SparkSpec.tempDir("hh_ckpt").toString
    val docSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("text", StringType)))
    def row(src: String, text: String) =
      s"""{"source":"$src","text":"$text"}"""
    // "hot" appears 30× in EACH batch; a single batch alone can
    // account for weight ≤ 30 + fillers — the cross-batch assertion
    // below needs the merged state to exceed any one batch's count
    def batchText(tag: String) =
      (Seq.fill(30)("hot") ++ (0 until 5).map(i => s"f$tag$i"))
        .mkString(" ")
    writeBatch(in, "b1.json", row("s", batchText("a")))
    writeBatch(in, "b2.json", row("s", batchText("b")))
    val stream = Streams.rateLimitedStream(spark, in, docSchema,
      maxFilesPerTrigger = 1)
    val out = Streams.heavyHittersStream(stream, k = 8)
    val q = out.writeStream.format("memory").queryName("hh")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val weights = spark.table("hh")
      .where(org.apache.spark.sql.functions.col("token") === "hot")
      .collect()
      .map(_.getAs[Long]("weight"))
    // some emission must carry hot's weight ABOVE any single batch's
    // 30 occurrences — only the merged cross-batch state can
    assert(weights.nonEmpty && weights.max > 30,
      s"cross-batch fold missing: weights ${weights.mkString(",")}")
  }

  test("streaming blocklist admission blocks exact content, batch-equal") {
    import org.apache.spark.sql.functions.col
    val in = SparkSpec.tempDir("bloom_in").toString
    val ckpt = SparkSpec.tempDir("bloom_ckpt").toString
    val bad1 = "forbidden spam content number one"
    val bad2 = "another blocked document entirely"
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    def row(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text"}"""
    // the blocklist is static/batch; the stream carries a verbatim
    // copy of a blocked text (id differs — blocking is by CONTENT)
    import spark.implicits._
    val blocked = Seq(bad1, bad2).toDF("text")
    writeBatch(in, "b1.json", row(10, "a perfectly fine document"),
      row(11, bad1))
    writeBatch(in, "b2.json", row(12, bad2),
      row(13, "more clean text streaming through"))
    val stream = Streams.rateLimitedStream(spark, in, docSchema,
      maxFilesPerTrigger = 1)
    val out = Streams.blocklistAdmission(stream, blocked)
    val q = out.writeStream.format("memory").queryName("bloomadm")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("bloomadm").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("bloom_hit"), r.getAs[Boolean]("admitted"))).toMap
    assert(rows.size == 4)
    // no false negatives: both planted copies are hits, not admitted
    assert(rows(11L)._1 && !rows(11L)._2)
    assert(rows(12L)._1 && !rows(12L)._2)
    // the clean docs pass (could only fail via an FP — 6 bits set in
    // 4096 make that astronomically unlikely, and determinism makes
    // this a fixed, reproducible outcome rather than a flake)
    assert(!rows(10L)._1 && rows(10L)._2)
    assert(!rows(13L)._1 && rows(13L)._2)
  }

  test("streaming fuzzy admission: one-typo names blocked by the exact check") {
    import org.apache.spark.sql.functions.col
    val in = SparkSpec.tempDir("fuzzy_in").toString
    val ckpt = SparkSpec.tempDir("fuzzy_ckpt").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("name", StringType)))
    def row(id: Long, name: String) =
      s"""{"doc_id":$id,"name":"$name"}"""
    import spark.implicits._
    val reference = Seq("banned_user", "spamlord").toDF("name")
    // b1: exact hit + clean; b2: one-typo hit (insert) + key-colliding
    // near-miss that the EXACT check must admit (shares a delete key
    // path? no — distance 2, no shared key, must be admitted cheaply)
    writeBatch(in, "b1.json", row(1, "banned_user"), row(2, "regular_joe"))
    writeBatch(in, "b2.json", row(3, "spam_lord"), row(4, "bannedXuserX"),
      """{"doc_id":5,"name":null}""")
    val stream = Streams.rateLimitedStream(spark, in, docSchema,
      maxFilesPerTrigger = 1)
    val out = Streams.fuzzyAdmission(stream, reference)
    val q = out.writeStream.format("memory").queryName("fuzzyadm")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("fuzzyadm").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("fuzzy_match"), r.getAs[Boolean]("admitted")))
      .toMap
    assert(rows.size == 5)
    assert(rows(1L) == (true, false), "exact reference hit must block")
    assert(rows(3L) == (true, false), "one-insert typo must block")
    assert(rows(2L) == (false, true))
    assert(rows(4L) == (false, true), "distance-2 stays admitted at tau=1")
    // a null name matches nothing and ADMITS (never a NULL verdict)
    assert(rows(5L) == (false, true), "null name must coalesce to admit")
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

  test("funnel stream: keyed state machine ≡ batch greedy parse, out-of-order") {
    import org.apache.spark.sql.functions.{col, unix_millis}
    val in = SparkSpec.tempDir("funnel_in").toString
    val ckpt = SparkSpec.tempDir("funnel_ckpt").toString
    def ev(id: Long, user: Long, et: String, hhmm: String) =
      s"""{"event_id":$id,"ts":"2024-01-01T$hhmm:00Z","user_id":$user,"event_type":"$et","value":1.0}"""
    // u1 full funnel; u2 click past the 30-min deadline; u3 purchase
    // past the deadline; u4's VIEW arrives in the last file and must
    // unlock the click+purchase seen earlier; u5's late EARLIER view
    // pulls a click that preceded the first view into the window
    writeBatch(in, "b1.json",
      ev(1, 1, "view", "00:00"),
      ev(2, 2, "view", "00:00"),
      ev(3, 3, "view", "00:00"),
      ev(4, 4, "click", "00:05"),
      ev(5, 5, "view", "00:30"),
      ev(6, 5, "click", "00:05"))
    writeBatch(in, "b2.json",
      ev(7, 1, "click", "00:10"),
      ev(8, 2, "click", "00:40"),
      ev(9, 3, "click", "00:10"),
      ev(10, 4, "purchase", "00:10"),
      ev(11, 3, "purchase", "00:55"))
    writeBatch(in, "b3.json",
      ev(12, 1, "purchase", "00:20"),
      ev(13, 4, "view", "00:02"),
      ev(14, 5, "view", "00:01"))
    val out = Streams.funnelStream(
      Streams.rateLimitedStream(spark, in, schema, maxFilesPerTrigger = 1))
    val q = out.writeStream.format("memory").queryName("funnel")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("user_id"), r.getAs[Long]("t1"),
      if (r.isNullAt(r.fieldIndex("t2"))) None
      else Some(r.getAs[Long]("t2")),
      if (r.isNullAt(r.fieldIndex("t3"))) None
      else Some(r.getAs[Long]("t3")),
      r.getAs[Long]("reached"))
    // final emission per user = max update sequence
    val got = spark.table("funnel").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (_, rows) => key(rows.maxBy(_.getAs[Long]("upd"))) }
      .toSet
    val batch = graft.ops.EventOps.orderedFunnelOf(
        spark.read.schema(schema).json(in)
          .select(col("user_id"), col("event_type"),
            unix_millis(col("ts")).as("ms")), 1800000L)
      .collect().map(key).toSet
    assert(got == batch,
      s"stream funnel drifted from batch parse:\n$got\nvs\n$batch")
    // the late-view unlocks really happened
    val m0 = 1704067200000L // 2024-01-01T00:00Z
    assert(got.contains((4L, m0 + 2 * 60000L, Some(m0 + 5 * 60000L),
      Some(m0 + 10 * 60000L), 3L)))
    assert(got.contains((5L, m0 + 60000L, Some(m0 + 5 * 60000L),
      None, 2L)))
  }

  test("funnel stream horizon: viewless candidates beyond the watermark are evicted") {
    import org.apache.spark.sql.streaming.Trigger
    // u7 sends a click at 00:05 but no view; the stream then advances
    // far past it (u9's funnel at 01:00+). With horizonMs=10min the
    // watermark passes u7's candidate → its keyed state times out and
    // is REMOVED. An out-of-contract view for u7 arriving later (b4,
    // event time 00:03 — beyond the horizon) must NOT resurrect the
    // click: reached stays ≤ 1. The control run (horizonMs=None, the
    // exact replayable mode) on the SAME files proves the click was
    // genuinely reachable: there the late view unlocks it (reached=2).
    def fixture(): String = {
      val in = SparkSpec.tempDir("funnel_hz").toString
      def ev(id: Long, user: Long, et: String, hhmm: String) =
        s"""{"event_id":$id,"ts":"2024-01-01T$hhmm:00Z","user_id":$user,"event_type":"$et","value":1.0}"""
      writeBatch(in, "b1.json",
        ev(1, 7, "click", "00:05"),
        ev(2, 9, "view", "00:00"))
      writeBatch(in, "b2.json", ev(3, 9, "click", "01:00"))
      writeBatch(in, "b3.json", ev(4, 9, "purchase", "01:05"))
      writeBatch(in, "b4.json", ev(5, 7, "view", "00:03"))
      // the file source orders micro-batches by mtime — same-millisecond
      // writes tie and scramble the intended sequence (the
      // transitionStream lesson), so stamp them explicitly
      Seq("b1.json", "b2.json", "b3.json", "b4.json").zipWithIndex
        .foreach { case (f, i) =>
          Files.setLastModifiedTime(Paths.get(in, f),
            java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000L))
        }
      in
    }
    def drain(horizon: Option[Long], name: String): Map[Long, Long] = {
      val ckpt = SparkSpec.tempDir(s"funnel_hz_ck_$name").toString
      val out = Streams.funnelStream(
        Streams.rateLimitedStream(spark, fixture(), schema,
          maxFilesPerTrigger = 1),
        windowMs = 1800000L, horizonMs = horizon)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) =>
          u -> rows.maxBy(_.getAs[Long]("upd")).getAs[Long]("reached") }
    }
    val bounded = drain(Some(600000L), "funnel_hz_b")
    val exact = drain(None, "funnel_hz_e")
    // the replayable mode proves the candidate was reachable ...
    assert(exact.get(7L).contains(2L),
      s"control run should unlock the click: $exact")
    // ... and the horizon mode proves it was evicted (or the
    // out-of-contract row itself dropped) — never resurrected
    assert(bounded.getOrElse(7L, 0L) <= 1L,
      s"horizon mode resurrected an evicted candidate: $bounded")
    // in-contract funnels are identical in both modes
    assert(bounded.get(9L) === exact.get(9L))
  }

  test("retention stream: final keyed state ≡ batch q128, out-of-order") {
    import org.apache.spark.sql.functions.col
    val in = SparkSpec.tempDir("ret_in").toString
    val ckpt = SparkSpec.tempDir("ret_ckpt").toString
    // 6 users × irregular activity days; round-robin batch split makes
    // every user's stream out-of-order (late EARLIER days rebase the
    // cohort — the case that forces re-emission)
    val rows = for {
      (u, days) <- Seq(1 -> Seq(3, 1, 7), 2 -> Seq(2, 2, 9),
        3 -> Seq(5), 4 -> Seq(1, 10, 4), 5 -> Seq(8, 6, 6),
        6 -> Seq(2, 12, 1))
      (d, i) <- days.zipWithIndex
    } yield s"""{"event_id":${u * 100 + i},"ts":"2024-01-${"%02d".format(d)}T0$i:00:00Z","user_id":$u,"event_type":"view","value":1.0}"""
    rows.zipWithIndex.groupBy(_._2 % 3).foreach { case (k, rs) =>
      writeBatch(in, s"b$k.json", rs.map(_._1): _*)
    }
    val q = Streams.retentionStream(
        Streams.rateLimitedStream(spark, in, schema, maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("ret_stream")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // final-wins per user, then aggregate to the retention matrix
    val fin = spark.table("ret_stream").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .flatMap { case (_, rs) =>
        val m = rs.map(_.getAs[Long]("upd")).max
        rs.filter(_.getAs[Long]("upd") == m).toSeq
      }
    val got = fin.toSeq
      .groupBy(r => (r.getAs[String]("cohort_day"),
        r.getAs[Int]("day_offset")))
      .map { case (k, rs) => (k._1, k._2, rs.size.toLong) }.toSet
    val batch = graft.ops.EventOps.retentionOf(
        spark.read.schema(schema).json(in))
      .collect()
      .map(r => (r.getAs[String]("cohort_day"),
        r.getAs[Int]("day_offset"), r.getAs[Long]("n_users"))).toSet
    assert(got == batch,
      s"stream retention drifted from batch:\n$got\nvs\n$batch")
  }

  test("decay-attribution stream: final credits ≡ batch q258, late clicks") {
    val in = SparkSpec.tempDir("decay_in").toString
    val ckpt = SparkSpec.tempDir("decay_ckpt").toString
    def ev(id: Long, user: Long, et: String, dayHour: (Int, Int),
           value: Double) =
      s"""{"event_id":$id,"ts":"2024-01-${"%02d".format(dayHour._1)}T${"%02d".format(dayHour._2)}:00:00Z","user_id":$user,"event_type":"$et","value":$value}"""
    // u1: purchase first, its clicks arrive LATE (batch 2/3) — the
    // normalizer must be corrected by re-emission; u2: boundary cases
    // (a click exactly 24 h before is excluded, one inside at 23 h);
    // u3: clicks with no purchase (state but no rows)
    writeBatch(in, "b1.json",
      ev(1, 1, "purchase", (2, 10), 9.37),
      ev(2, 2, "click", (1, 12), 1.0),
      ev(3, 3, "click", (1, 1), 1.0))
    writeBatch(in, "b2.json",
      ev(4, 1, "click", (2, 8), 1.0),
      ev(5, 2, "purchase", (2, 12), 25.5),
      ev(6, 3, "click", (1, 2), 1.0))
    writeBatch(in, "b3.json",
      ev(7, 1, "click", (2, 3), 1.0),
      ev(8, 2, "click", (2, 11), 1.0),
      ev(9, 1, "click", (1, 9), 1.0)) // 25 h before — outside window
    Seq("b1.json", "b2.json", "b3.json").zipWithIndex.foreach {
      case (f, i) => Files.setLastModifiedTime(Paths.get(in, f),
        java.nio.file.attribute.FileTime.fromMillis(2000000L + i * 1000L))
    }
    val q = Streams.decayAttributionStream(
        Streams.rateLimitedStream(spark, in, schema, maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("decay_stream")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("p_id"), r.getAs[Long]("c_id"),
      r.getAs[Long]("value_cents"), r.getAs[Long]("h"),
      r.getAs[Long]("w"), r.getAs[Long]("total_w"),
      r.getAs[Double]("credit"))
    val got = spark.table("decay_stream").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .flatMap { case (_, rs) =>
        val m = rs.map(_.getAs[Long]("upd")).max
        rs.filter(_.getAs[Long]("upd") == m).map(key).toSeq
      }.toSet
    val batch = graft.ops.EventOps.decayAttributionOf(
        spark.read.schema(schema).json(in))
      .collect().map(key).toSet
    assert(got == batch,
      s"stream decay attribution drifted from batch:\n$got\nvs\n$batch")
    // the late-click correction really happened: u1's purchase has
    // BOTH in-window clicks in its final normalizer
    assert(got.count(_._1 == 1L) == 2)
  }

  test("hourly-count maintenance: streamed anomaly scan ≡ batch q252") {
    val in = SparkSpec.tempDir("hcm_in").toString
    val ckpt = SparkSpec.tempDir("hcm_ckpt").toString
    val root = SparkSpec.tempDir("hcm_zone").toString + "/z"
    // 30 hours of clicks with deterministic per-hour counts and a
    // spike at hour 28 (clear anomaly); sparse 'view' hours exercise
    // the re-densification zeros
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    var id = 0L
    for (h <- 0 until 30) {
      val n = if (h == 28) 40 else 3 + (h % 5)
      for (i <- 0 until n) {
        id += 1
        rows += s"""{"event_id":$id,"ts":"2024-01-${"%02d".format(1 + h / 24)}T${"%02d".format(h % 24)}:${"%02d".format(i % 60)}:00Z","user_id":${i % 7},"event_type":"click","value":1.0}"""
      }
    }
    for (h <- Seq(2, 20)) {
      id += 1
      rows += s"""{"event_id":$id,"ts":"2024-01-01T${"%02d".format(h)}:00:00Z","user_id":1,"event_type":"view","value":1.0}"""
    }
    // three heavily out-of-order micro-batches (round-robin split)
    rows.zipWithIndex.groupBy(_._2 % 3).foreach { case (k, rs) =>
      writeBatch(in, s"b$k.json", rs.map(_._1).toSeq: _*)
    }
    val q = HourlyCountMaint.sink(
      Streams.rateLimitedStream(spark, in, schema, maxFilesPerTrigger = 1),
      root, ckpt)
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[String]("event_type"), r.getAs[Long]("t"),
      r.getAs[Long]("c"), r.getAs[Long]("sw"), r.getAs[Long]("ssw"),
      if (r.isNullAt(r.fieldIndex("z"))) None
      else Some(r.getAs[Double]("z")),
      r.getAs[Boolean]("anomalous"))
    val got = HourlyCountMaint.anomalies(spark, root).collect()
      .map(key).toSet
    val batch = graft.ops.EventOps.anomalyOf(
        graft.ops.EventOps.denseGridOf(spark.read.schema(schema).json(in)))
      .collect().map(key).toSet
    assert(got == batch,
      s"maintained anomaly scan drifted from batch q252")
    // the planted hour-28 spike is flagged
    // absolute hour 28 after 2024-01-01T00 (= day 19723 since epoch)
    val spikeT = 19723L * 24 + 28
    assert(got.exists { case (et, t, c, _, _, _, a) =>
      et == "click" && t == spikeT && c == 40L && a })
  }

  test("streaming HLL final state ≡ batch q179 sketch, any batch split") {
    val in = SparkSpec.tempDir("hll_in").toString
    val ckpt = SparkSpec.tempDir("hll_ckpt").toString
    // the REAL corpus, streamed as 3 arbitrary micro-batches
    graft.Tables.load(spark, sf(), "documents")
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
      .repartition(3)
      .write.mode("overwrite").json(in)
    val docSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("text", StringType)))
    val stream = Streams.rateLimitedStream(spark, in, docSchema,
      maxFilesPerTrigger = 1)
    val out = Streams.hllDistinctStream(stream)
    val q = out.writeStream.format("memory").queryName("hll")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // final emission per source = min z_scaled (registers only fill:
    // z is monotone non-increasing as state accumulates)
    val got = spark.table("hll").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_regs_hit"),
        r.getAs[Long]("z_scaled"), r.getAs[Double]("est_distinct")))
      .groupBy(_._1).map { case (_, rows) => rows.minBy(_._3) }.toSet
    val batch = graft.text.Sketches.hllDistinct(spark, sf()).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_regs_hit"),
        r.getAs[Long]("z_scaled"), r.getAs[Double]("est_distinct")))
      .toSet
    assert(got == batch,
      s"stream-final sketch drifted from batch:\n$got\nvs\n$batch")
  }

  test("transition stream: k time-ordered batches ≡ batch bigram counts") {
    import org.apache.spark.sql.functions.{col, count, lit, unix_millis, lead}
    import org.apache.spark.sql.expressions.Window
    val in = SparkSpec.tempDir("trans_in").toString
    val ckpt = SparkSpec.tempDir("trans_ckpt").toString
    def ev(id: Long, user: Long, et: String, hhmm: String) =
      s"""{"event_id":$id,"ts":"2024-01-01T$hhmm:00Z","user_id":$user,"event_type":"$et","value":1.0}"""
    // batch boundaries cut INSIDE user sequences — the pair spanning
    // the boundary must still be emitted (u1 view->click across
    // b1/b2, u2 click->purchase across b2/b3); same-ms ties break by
    // event_id (u3: ids 31,32 at 00:07)
    writeBatch(in, "b1.json",
      ev(1, 1, "view", "00:00"),
      ev(31, 3, "view", "00:07"))
    writeBatch(in, "b2.json",
      ev(2, 1, "click", "00:05"),
      ev(32, 3, "click", "00:07"),
      ev(10, 2, "click", "00:06"))
    writeBatch(in, "b3.json",
      ev(3, 1, "purchase", "00:09"),
      ev(11, 2, "purchase", "00:08"))
    // the in-order-delivery contract is the FIXTURE's job: the file
    // source orders by modification time, and same-ms writes tie —
    // stamp strictly increasing mtimes (a user-keyed Kafka partition
    // provides this ordering for real)
    Seq("b1.json", "b2.json", "b3.json").zipWithIndex.foreach {
      case (f, i) =>
        Files.setLastModifiedTime(Paths.get(in, f),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 3000L + i * 1000L))
    }
    val out = Streams.transitionStream(
      Streams.rateLimitedStream(spark, in, schema, maxFilesPerTrigger = 1))
    val q = out.writeStream.format("memory").queryName("trans")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("trans")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // the q228 batch spelling over the same files
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val batch = spark.read.schema(schema).json(in)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == batch,
      s"stream transitions drifted from batch:\n$got\nvs\n$batch")
    // the boundary-spanning pairs really exist
    assert(got.contains(("view", "click")) &&
      got.contains(("click", "purchase")))
  }
  test("transition stream: checkpointed restart emits nothing new and " +
    "resumes across the boundary") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val in = SparkSpec.tempDir("trans_rs_in").toString
    val ckpt = SparkSpec.tempDir("trans_rs_ckpt").toString
    val sink = SparkSpec.tempDir("trans_rs_sink").toString
    def ev(id: Long, user: Long, et: String, hhmm: String) =
      s"""{"event_id":$id,"ts":"2024-01-01T$hhmm:00Z","user_id":$user,"event_type":"$et","value":1.0}"""
    // the memory sink can't recover a checkpoint — restart semantics
    // need a durable sink (the parquet exactly-once pattern above)
    def drain(): Unit = {
      val out = Streams.transitionStream(
        Streams.rateLimitedStream(spark, in, schema, maxFilesPerTrigger = 1))
      val q = out.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def emitted(): Seq[(String, String)] =
      spark.read.schema(
          "user_id LONG, from_type STRING, to_type STRING, ms LONG")
        .parquet(sink).collect()
        .map(r => (r.getAs[String]("from_type"),
          r.getAs[String]("to_type"))).toSeq
    writeBatch(in, "a.json", ev(1, 9, "view", "00:00"))
    drain()
    assert(emitted().isEmpty) // one event, no pair yet
    // run 2 on the SAME checkpoint with no new data: exactly-once
    drain()
    assert(emitted().isEmpty)
    // run 3: the successor arrives — state must have survived the
    // restarts, so the boundary-spanning pair is emitted ONCE
    writeBatch(in, "b.json", ev(2, 9, "click", "00:05"))
    drain()
    assert(emitted() == Seq(("view", "click")), emitted())
  }
}
