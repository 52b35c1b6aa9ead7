package graft.pipeline

import graft.{SparkSpec, Tables}

/** Partition-layout materialization + pruning proof: reading one
  * partition must plan with PartitionFilters and touch a fraction of
  * the files. */
class PipelineSpec extends SparkSpec {

  test("partitioned materialize enables partition pruning") {
    val out = SparkSpec.tempDir("graft_part").toString + "/events"
    val events = Tables.load(spark, sf(), "events")
    val n = Pipeline.materializePartitioned(spark, events, out,
      Seq("event_type"))
    assert(n == events.count())

    // the partition directory layout exists
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("event_type="))
    assert(dirs.length == 5, dirs.mkString(","))

    // predicate on the partition column prunes at plan time
    val q = spark.read.parquet(out).where("event_type = 'click'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), plan.take(500))
    assert(q.count() ==
      events.where("event_type = 'click'").count())
  }

  test("observed materialize counts in-flight and matches the audit") {
    val out = SparkSpec.tempDir("graft_obs").toString + "/docs"
    val docs = Tables.load(spark, sf(), "documents")
    val n = Pipeline.materializeObserved(spark, docs, out)
    assert(n == docs.count()) // observed during the single write pass
    assert(n == spark.read.parquet(out).count())
    // audit-off mode still returns the true count (the 100 TB path)
    val out2 = SparkSpec.tempDir("graft_obs2").toString + "/docs"
    assert(Pipeline.materializeObserved(spark, docs, out2,
      auditRecount = false) == n)
  }

  test("cached table reuse: second read plans an in-memory scan") {
    val t = Tables.load(spark, sf(), "nation")
    t.createOrReplaceTempView("cache_probe")
    spark.sql("CACHE TABLE cache_probe")
    try {
      val again = spark.table("cache_probe").filter("n_regionkey = 1")
      val plan = again.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryRelation"), plan)
      assert(again.count() > 0)
    } finally spark.sql("UNCACHE TABLE cache_probe")
  }

  test("entry flagship returns rows (driver smoke contract)") {
    assert(graft.SparkEntry.entry(spark).limit(5).count() > 0)
  }

  test("approximate aggregates land within documented error bounds") {
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, sf(), "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.02))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx exact $exact")
    val p50 = li.stat.approxQuantile("l_quantity", Array(0.5), 0.01).head
    assert(p50 >= 20 && p50 <= 30, s"p50 $p50") // true median ~25
  }
}
