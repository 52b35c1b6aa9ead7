package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contracts of the incrementally-maintained SCD2 zone: the fold
  * equals the one-shot batch build under out-of-order ingest, and a
  * batch pays only for the users it touches. */
class Scd2MaintainSpec extends SparkSpec {

  private def rawEvents = graft.Tables.load(spark, sf(), "events")
    .select(col("user_id"), col("event_id"), col("event_type"),
      unix_millis(col("ts")).as("ms"))

  test("interleaved out-of-order batches fold to the batch build") {
    val root = SparkSpec.tempDir("scd2_fold").toString + "/z"
    val ev = rawEvents
    Scd2Maintain.init(spark, root, ev.where(col("event_id") % 3 === 0))
    Scd2Maintain.applyBatch(spark, root,
      ev.where(col("event_id") % 3 === 2)) // later slice first
    Scd2Maintain.applyBatch(spark, root,
      ev.where(col("event_id") % 3 === 1))
    val got = Scd2Maintain.read(spark, root).collect().map(_.toSeq)
    val want = graft.ops.EventOps.scd2Intervals(spark, sf())
      .collect().map(_.toSeq)
    assert(got.length == want.length)
    assert(got.toSeq == want.toSeq)
  }

  test("streamed micro-batches fold to the batch build, idempotently") {
    val root = SparkSpec.tempDir("scd2_stream").toString + "/z"
    val ev = rawEvents
    Scd2Maintain.init(spark, root, ev.where(col("event_id") % 3 === 0))
    // remaining slices arrive as a 2-file stream, one file per batch
    val in = SparkSpec.tempDir("scd2_stream_in").toString
    ev.where(col("event_id") % 3 === 1).coalesce(1)
      .write.json(s"$in/f1")
    ev.where(col("event_id") % 3 === 2).coalesce(1)
      .write.json(s"$in/f2")
    val schema = ev.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(s"$in/f*")
    val ckpt = SparkSpec.tempDir("scd2_stream_ck").toString
    Scd2Maintain.streamApply(spark, root, stream, ckpt)
    val got = Scd2Maintain.read(spark, root).collect().map(_.toSeq)
    val want = graft.ops.EventOps.scd2Intervals(spark, sf())
      .collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
    // a redelivered batch id is a no-op: marker found, view unchanged
    val replay = ev.where(col("event_id") % 3 === 1)
    assert(!Scd2Maintain.applyBatchIdempotent(spark, root, replay, 0L))
    val after = Scd2Maintain.read(spark, root).collect().map(_.toSeq)
    assert(after.toSeq == want.toSeq)
  }

  test("a batch applied between stream batches takes no stream epoch") {
    val root = SparkSpec.tempDir("scd2_mixed").toString + "/z"
    val ev = rawEvents
    Scd2Maintain.init(spark, root, ev.where(col("event_id") % 4 === 0))
    assert(Scd2Maintain.applyBatchIdempotent(spark, root,
      ev.where(col("event_id") % 4 === 1), 0L))
    Scd2Maintain.applyBatch(spark, root, ev.where(col("event_id") % 4 === 2))
    // stream batch 1's marker is epoch 1001: the sequential batch above
    // must not have taken it
    assert(Scd2Maintain.applyBatchIdempotent(spark, root,
      ev.where(col("event_id") % 4 === 3), 1L))
    val want = graft.ops.EventOps.scd2Intervals(spark, sf())
      .collect().map(_.toSeq)
    assert(Scd2Maintain.read(spark, root).collect().map(_.toSeq).toSeq ==
      want.toSeq)
  }

  test("a crashed stream commit's staging leftover is not a commit") {
    val root = SparkSpec.tempDir("scd2_staged").toString + "/z"
    val ev = rawEvents
    Scd2Maintain.init(spark, root, ev.where(col("event_id") % 2 === 0))
    // a JVM killed while committing stream batch 0's raw events (epoch
    // 1000 + id) leaves only the staging dir's uncommitted job output
    val rest = ev.where(col("event_id") % 2 === 1)
    val staging = s"$root/events/.staging-1000"
    rest.limit(5).write.parquet(s"$staging/_temporary/0/bucket=0")
    // the retry sees no commit, folds the batch and cleans the leftover
    assert(Scd2Maintain.applyBatchIdempotent(spark, root, rest, 0L))
    assert(!new java.io.File(staging).exists())
    val want = graft.ops.EventOps.scd2Intervals(spark, sf())
      .collect().map(_.toSeq)
    assert(Scd2Maintain.read(spark, root).collect().map(_.toSeq).toSeq ==
      want.toSeq)
    // and now the batch is committed: a redelivery is a no-op
    assert(!Scd2Maintain.applyBatchIdempotent(spark, root, rest, 0L))
  }

  test("a one-user batch touches one bucket and writes one merge row") {
    val root = SparkSpec.tempDir("scd2_touch").toString + "/z"
    val ev = rawEvents
    Scd2Maintain.init(spark, root, ev)
    val u = ev.select(col("user_id")).head.getLong(0)
    val one = ev.where(col("user_id") === u).limit(1)
      .withColumn("event_id", col("event_id") + 1000000L)
      .withColumn("ms", col("ms") + 1L)
    Scd2Maintain.applyBatch(spark, root, one)
    // recompute plan prunes the events chain to the user's bucket
    val plan = Scd2Maintain
      .touchedEvents(spark, root, one.select(col("user_id")).distinct())
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      "expected bucket-directory pruning in:\n" + plan)
    // the merge delta carries exactly the touched user
    val delta = spark.read
      .parquet(s"$root/intervals/delta/epoch=1")
    assert(delta.select(col("user_id")).distinct().count() == 1)
    assert(delta.head.getLong(delta.columns.indexOf("user_id")) == u)
    // and the reconciled view changed only that user's rows
    val before = graft.ops.EventOps.scd2Intervals(spark, sf())
      .where(col("user_id") =!= u).collect().map(_.toSeq).toSet
    val after = Scd2Maintain.read(spark, root)
      .where(col("user_id") =!= u).collect().map(_.toSeq).toSet
    assert(before == after)
  }
}
