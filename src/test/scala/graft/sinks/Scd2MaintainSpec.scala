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
