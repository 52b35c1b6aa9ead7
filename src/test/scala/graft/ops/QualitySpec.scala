package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the quality module's review-pass contracts: hostile rule
  * names, duplicate parent keys, and actual orphan detection. */
class QualitySpec extends SparkSpec {

  test("ruleAudit survives hostile rule names (collisions, dots)") {
    import spark.implicits._
    val df = Seq((1, "a"), (-2, "b"), (3, null)).toDF("v", "s")
    val out = Quality.ruleAudit(df, Seq(
      "n_rows" -> (col("v") <= 0),            // collides with internal
      "orders.qty" -> col("s").isNull,        // dotted
      "rule" -> (col("v") > 100)))            // collides with output col
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(out("n_rows") == (1L, 3L))
    assert(out("orders.qty") == (1L, 3L))
    assert(out("rule") == (0L, 3L))
  }

  test("ruleAudit rejects duplicate rule names up front") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("v", "s")
    val e = intercept[IllegalArgumentException] {
      Quality.ruleAudit(df, Seq(
        "qty" -> (col("v") <= 0),
        "qty" -> (col("v") > 100)))
    }
    assert(e.getMessage.contains("qty"),
      "error must name the offending rule")
  }

  test("fkOrphans: duplicate parent keys don't inflate; orphans found") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("fk").toString
    // child 3 rows: two valid (42), one orphan (99)
    Seq((1L, 42L), (2L, 42L), (3L, 99L)).toDF("id", "l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // corrupt parent: key 42 duplicated — the audit must not fan out
    Seq((42L, 7L), (42L, 7L), (43L, 8L)).toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((7L, "x")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val rows = Quality.fkOrphans(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(rows("lineitem.l_orderkey->orders") == (3L, 1L),
      "n_child must be the child row count even with dup parent keys")
    assert(rows("orders.o_custkey->customer") == (3L, 1L),
      "custkey 8 has no customer row")
  }

  test("q166: verdict agrees with its three parent queries per doc") {
    val verdict = Quality.curationVerdict(spark, sf()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val lin = graft.text.CorpusStats.linearQuality(spark, sf())
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("keep")).toMap
    val rep = graft.text.CorpusStats.repetitionFilter(spark, sf())
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("flagged")).toMap
    // the verdict's "blocked" is the EXACT membership check, never
    // the bloom probe (a false positive must not cost a document)
    val blo = Blocklist.bloomScrub(spark, sf())
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("true_member")).toMap
    assert(verdict.nonEmpty && verdict.size == lin.size)
    verdict.foreach { case (id, r) =>
      assert(r.getAs[Boolean]("keep_quality") == lin(id))
      assert(r.getAs[Boolean]("flagged_repetition") == rep(id))
      assert(r.getAs[Boolean]("blocked") == blo(id))
      assert(r.getAs[Boolean]("keep") ==
        (lin(id) && !rep(id) && !blo(id)), s"verdict drifted at $id")
    }
  }

  test("q181 ROC: cumulative counts are monotone and conserve totals") {
    val rows = Quality.qualityRoc(spark, sf()).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.Tables.load(spark, sf(), "documents").count()
    // per-bin counts sum to the corpus; every doc lands in one bin
    assert(rows.map(r => r.getAs[Long]("np") + r.getAs[Long]("nn")).sum
      == nDocs)
    // rows come back ordered by thr_bin ASC ⇒ tp/fp (counts at ≥ thr)
    // must be non-increasing in thr, i.e. non-increasing when walking
    // the rows in reverse
    val tps = rows.map(_.getAs[Long]("tp"))
    val fps = rows.map(_.getAs[Long]("fp"))
    assert(tps.zip(tps.tail).forall { case (lo, hi) => lo >= hi },
      "tp must shrink as the threshold rises")
    assert(fps.zip(fps.tail).forall { case (lo, hi) => lo >= hi },
      "fp must shrink as the threshold rises")
    rows.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fn") == tps.head)
      assert(r.getAs[Long]("fp") + r.getAs[Long]("tn") == fps.head)
      val rec = r.getAs[Double]("rec")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // the loosest threshold keeps everything
    assert(tps.head + fps.head == nDocs)
  }
  test("q308 witness-free variant: same estimates, no corpus-keyed " +
    "state (the documented 100 TB drop as API)") {
    val wit = Quality.approxColumnProfile(spark, sf()).collect()
      .map(r => r.getAs[String]("column_name") ->
        r.getAs[Double]("est_distinct")).toMap
    val free = Quality.approxColumnProfile(spark, sf(),
      withWitness = false)
    // the witness columns are GONE from the schema, not just nulled
    val cols = free.columns.toSet
    assert(!cols.contains("n_exact") && !cols.contains("within_bound"))
    val rows = free.collect()
    assert(rows.nonEmpty)
    // estimates are identical with and without the witness (under-k
    // columns stay exact because a sub-k sketch holds every distinct)
    rows.foreach { r =>
      assert(r.getAs[Double]("est_distinct") ==
        wit(r.getAs[String]("column_name")))
    }
    // and the plan carries no countDistinct (the corpus-keyed state)
    val plan = free.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("count(distinct"),
      "witness-free profile still plans a distinct aggregate")
  }

}
