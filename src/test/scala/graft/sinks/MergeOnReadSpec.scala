package graft.sinks

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Merge-on-read zone table: the reconciled view must match the
  * copy-on-write merge semantics row-for-row, writes must be O(delta)
  * (base untouched), and compaction must preserve the view. */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot(): String =
    SparkSpec.tempDir("mor").toString + "/t"

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("id", "name", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def baseFiles(root: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/base")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SwapPublish.parquetFiles(fs, p)
      .map(f => f.getPath.toString + "@" + f.getModificationTime).toSet
  }

  test("merge view matches copy-on-write semantics; base files untouched") {
    val root = newRoot()
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "score")
    MergeOnRead.init(spark, root, base)
    val before = baseFiles(root)

    val updates = Seq((2L, "b2", 20.0), (4L, "d", 4.0))
      .toDF("id", "name", "score")
    MergeOnRead.merge(spark, root, updates, Seq("id"))

    assert(rows(MergeOnRead.read(spark, root, Seq("id"))) ==
      Set((1L, "a", 1.0), (2L, "b2", 20.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    assert(baseFiles(root) == before, "merge must not rewrite the base")
  }

  test("later epochs win; tombstones hide base rows and earlier upserts") {
    val root = newRoot()
    MergeOnRead.init(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    MergeOnRead.merge(spark, root,
      Seq((2L, "b2", 20.0), (3L, "c", 3.0)).toDF("id", "name", "score"),
      Seq("id"))
    MergeOnRead.merge(spark, root,
      Seq((2L, "b3", 30.0)).toDF("id", "name", "score"), Seq("id"))
    MergeOnRead.delete(spark, root, Seq(Tuple1(3L)).toDF("id"), Seq("id"))

    assert(rows(MergeOnRead.read(spark, root, Seq("id"))) ==
      Set((1L, "a", 1.0), (2L, "b3", 30.0)))
    assert(MergeOnRead.epochs(spark, root) == Seq(1L, 2L, 3L))
  }

  test("re-inserting a deleted key resurrects it (delete is not final)") {
    val root = newRoot()
    MergeOnRead.init(spark, root,
      Seq((1L, "a", 1.0)).toDF("id", "name", "score"))
    MergeOnRead.delete(spark, root, Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    MergeOnRead.merge(spark, root,
      Seq((1L, "a2", 10.0)).toDF("id", "name", "score"), Seq("id"))
    assert(rows(MergeOnRead.read(spark, root, Seq("id"))) ==
      Set((1L, "a2", 10.0)))
  }

  test("compact preserves the view and clears the delta chain") {
    val root = newRoot()
    MergeOnRead.init(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    MergeOnRead.merge(spark, root,
      Seq((2L, "b2", 20.0), (5L, "e", 5.0)).toDF("id", "name", "score"),
      Seq("id"))
    MergeOnRead.delete(spark, root, Seq(Tuple1(1L)).toDF("id"), Seq("id"))

    val viewBefore = rows(MergeOnRead.read(spark, root, Seq("id")))
    MergeOnRead.compact(spark, root, Seq("id"))
    assert(MergeOnRead.epochs(spark, root).isEmpty, "deltas must be cleared")
    assert(rows(MergeOnRead.read(spark, root, Seq("id"))) == viewBefore)
    // and the table keeps accepting merges after compaction
    MergeOnRead.merge(spark, root,
      Seq((6L, "f", 6.0)).toDF("id", "name", "score"), Seq("id"))
    assert(rows(MergeOnRead.read(spark, root, Seq("id"))) ==
      viewBefore + ((6L, "f", 6.0)))
  }

  test("diff classifies insert/delete/update between any two epochs") {
    val root = newRoot()
    MergeOnRead.init(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("id", "name", "score"))
    // epoch 1: update id=2, insert id=4
    MergeOnRead.merge(spark, root,
      Seq((2L, "b2", 2.5), (4L, "d", 4.0)).toDF("id", "name", "score"),
      Seq("id"))
    // epoch 2: delete id=3
    MergeOnRead.delete(spark, root, Seq(3L).toDF("id"), Seq("id"))
    // epoch 3: no-op re-assert of id=1 (same values) — must NOT diff
    MergeOnRead.merge(spark, root,
      Seq((1L, "a", 1.0)).toDF("id", "name", "score"), Seq("id"))

    val d = MergeOnRead.diff(spark, root, Seq("id"), 0L, 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(2L -> "update", 3L -> "delete", 4L -> "insert"),
      s"got $d")
    // before/after payloads carry the actual rows
    val upd = MergeOnRead.diff(spark, root, Seq("id"), 0L, 3L)
      .where($"op" === "update").collect()(0)
    assert(upd.getStruct(2).getString(0) == "b" &&
      upd.getStruct(3).getString(0) == "b2")
    // identical states diff to nothing
    assert(MergeOnRead.diff(spark, root, Seq("id"), 3L, 3L).isEmpty)
    // a partial window sees only its own changes
    val d23 = MergeOnRead.diff(spark, root, Seq("id"), 2L, 3L).collect()
    assert(d23.isEmpty, "epoch 3 only re-asserted identical values")
  }

  test("diff plan: touched-key semi-join sits BELOW the reconcile window") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val root = newRoot()
    MergeOnRead.init(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "score"))
    MergeOnRead.merge(spark, root,
      Seq((2L, "b2", 2.5)).toDF("id", "name", "score"), Seq("id"))
    val lp = MergeOnRead.diff(spark, root, Seq("id"), 0L, 1L)
      .queryExecution.optimizedPlan
    // O(delta) contract: each as-of reconcile window must already be
    // restricted to the touched keys — i.e. every Window has a
    // LeftSemi join in its subtree, and no LeftSemi sits above a
    // Window (the shuffle-the-whole-table shape this pin guards
    // against)
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected reconcile windows in the diff plan")
    windows.foreach { w =>
      val semisBelow = w.collect { case j: Join if j.joinType == LeftSemi => j }
      assert(semisBelow.nonEmpty,
        s"reconcile window not restricted to touched keys:\n$lp")
    }
    val semiAboveWindow = lp.collect {
      case j: Join if j.joinType == LeftSemi &&
        j.collect { case w: LWindow => w }.nonEmpty => j
    }
    assert(semiAboveWindow.isEmpty,
      s"touched-key semi-join must not sit above the window:\n$lp")
  }

  test("init refuses an existing table") {
    val root = newRoot()
    val df = Seq((1L, "a", 1.0)).toDF("id", "name", "score")
    MergeOnRead.init(spark, root, df)
    intercept[IllegalArgumentException] {
      MergeOnRead.init(spark, root, df)
    }
  }

  test("a key predicate on the reconciled view reaches the parquet scans") {
    import org.apache.spark.sql.functions.col
    import graft.text.Postings
    // a predicate on a key column must push BELOW the reconcile window
    // (the keys are its partition keys) into the scan — a join-shaped
    // filter would reconcile the whole table per touched-key lookup
    val docs = graft.Tables.load(spark, sf(), "documents")
    val root = newRoot()
    MergeOnRead.init(spark, root, Postings.aggIndex(
      Postings.tfRelation(docs.where(col("doc_id") < 40), blockSize = 8)))
    val reconciled = MergeOnRead.read(spark, root, Seq("term", "blk"))
      .where(col("blk").isInCollection(Seq(4L, 5L)))
    val plan = reconciled.queryExecution.executedPlan.toString
    // Catalyst may spell a small set as In(...) or fold it to EqualTo
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*(In|EqualTo)\\(blk[^\\]]*\\].*"),
      "blk IN (...) did not reach the parquet scan:\n" + plan)
  }
}
