package graft.sinks

import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, Tables}

/** Incremental view maintenance must equal the full recompute
  * bit-for-bit, for appends and retractions, and time-travel reads of
  * the merge-on-read table must reproduce each historical state. */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private def asMap(df: DataFrame): Map[String, (Long, BigDecimal)] =
    df.collect().map(r => r.getString(0) ->
      (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  test("append merge equals full recompute exactly") {
    val all = Tables.load(spark, sf(), "orders")
      .select($"o_orderpriority".as("g"), $"o_totalprice".as("v"))
    val base = all.where($"v" < 100000.0)
    val delta = all.where($"v" >= 100000.0)
    val merged = IncrementalAgg.merge(
      IncrementalAgg.state(base, Seq("g"), Seq("v")),
      IncrementalAgg.state(delta, Seq("g"), Seq("v")),
      Seq("g"), Seq("v"))
    val full = IncrementalAgg.state(all, Seq("g"), Seq("v"))
    assert(asMap(merged) == asMap(full))
  }

  test("retraction merge equals recompute without the removed rows") {
    val all = Tables.load(spark, sf(), "orders")
      .select($"o_orderpriority".as("g"), $"o_totalprice".as("v"))
    val removed = all.where($"v" >= 150000.0)
    val retracted = IncrementalAgg.merge(
      IncrementalAgg.state(all, Seq("g"), Seq("v")),
      IncrementalAgg.state(removed, Seq("g"), Seq("v")),
      Seq("g"), Seq("v"), negate = true)
    val expected = IncrementalAgg.state(
      all.where($"v" < 150000.0), Seq("g"), Seq("v"))
    assert(asMap(retracted) == asMap(expected))
  }

  test("full retraction of a group removes its row entirely") {
    val rows = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("g", "v")
    val st = IncrementalAgg.state(rows, Seq("g"), Seq("v"))
    val aOnly = IncrementalAgg.state(
      rows.where($"g" === "a"), Seq("g"), Seq("v"))
    val left = IncrementalAgg.merge(st, aOnly, Seq("g"), Seq("v"),
      negate = true)
    assert(left.select("g").collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("merge-on-read time travel reproduces each historical state") {
    val root =
      SparkSpec.tempDir("mor_tt").toString + "/t"
    MergeOnRead.init(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    MergeOnRead.merge(spark, root,
      Seq((2L, "b2", 20.0)).toDF("id", "name", "score"), Seq("id"))
    MergeOnRead.delete(spark, root, Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    def names(asOf: Long): Set[String] =
      MergeOnRead.read(spark, root, Seq("id"), asOf)
        .select("name").collect().map(_.getString(0)).toSet
    assert(names(0L) == Set("a", "b"))    // the base alone
    assert(names(1L) == Set("a", "b2"))   // after the first merge
    assert(names(2L) == Set("b2"))        // after the delete
    assert(names(Long.MaxValue) == Set("b2"))
  }
}
