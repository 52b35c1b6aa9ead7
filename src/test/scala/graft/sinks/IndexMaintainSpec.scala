package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental inverted-index maintenance: bit-identical to the full
  * rebuild, out-of-order batches, and O(touched-blocks) write cost. */
class IndexMaintainSpec extends SparkSpec {

  private def freshRoot(): String = SparkSpec.tempDir("idx_maintain").toString + "/zone"

  test("three out-of-order batches reconcile to the full rebuild") {
    val docs = graft.Tables.load(spark, sf(), "documents")
    val root = freshRoot()
    // blockSize 8 → several blocks even on the sf0.001 corpus
    IndexMaintain.init(spark, root, docs.limit(0), blockSize = 8)
    // interleaved doc-id residues: every batch hits overlapping
    // blocks, and batch order ≠ doc order
    for (r <- Seq(2, 0, 1))
      IndexMaintain.applyBatch(spark, root,
        docs.where(col("doc_id") % 3 === r), blockSize = 8)
    val got = IndexMaintain.read(spark, root)
      .collect().map(_.toSeq).toSet
    val want = IndexMaintain.rebuild(docs, blockSize = 8)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("a batch's delta rewrites only the touched blocks") {
    val docs = graft.Tables.load(spark, sf(), "documents")
    val root = freshRoot()
    IndexMaintain.init(spark, root, docs.where(col("doc_id") < 40),
      blockSize = 8)
    // one new doc → exactly one touched block
    val epoch = IndexMaintain.applyBatch(spark, root,
      docs.where(col("doc_id") === 42), blockSize = 8)
    val delta = spark.read.parquet(s"$root/delta/epoch=$epoch")
    val blocks = delta.select("blk").distinct().collect().map(_.getLong(0))
    assert(blocks.toSeq == Seq(42L / 8),
      s"delta touched blocks ${blocks.toSeq}; expected only block 5")
    // and the delta is a fraction of the index, not a rewrite of it
    val full = IndexMaintain.read(spark, root).count()
    assert(delta.count() < full / 2,
      s"delta ${delta.count()} rows vs index $full — not incremental")
  }

  test("the touched-blocks predicate reaches the zone's parquet scans") {
    // the O(touched) claim depends on the blk filter pushing BELOW the
    // reconcile window (blk is a window partition key) into the scan —
    // a join-shaped filter would reconcile the whole index per batch
    val docs = graft.Tables.load(spark, sf(), "documents")
    val root = freshRoot()
    IndexMaintain.init(spark, root, docs.where(col("doc_id") < 40),
      blockSize = 8)
    val reconciled = MergeOnRead.read(spark, root, Seq("term", "blk"))
      .where(col("blk").isInCollection(Seq(4L, 5L)))
    val plan = reconciled.queryExecution.executedPlan.toString
    // Catalyst may spell a small set as In(...) or fold it to EqualTo
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*(In|EqualTo)\\(blk[^\\]]*\\].*"),
      "blk IN (...) did not reach the parquet scan:\n" + plan)
  }

  test("index-served search equals the corpus-scan q123 exactly") {
    val docs = graft.Tables.load(spark, sf(), "documents")
    val root = freshRoot()
    // zone built incrementally, out of doc order — search must see
    // the reconciled index, not any single epoch
    IndexMaintain.init(spark, root, docs.limit(0), blockSize = 8)
    for (r <- Seq(1, 0))
      IndexMaintain.applyBatch(spark, root,
        docs.where(col("doc_id") % 2 === r), blockSize = 8)
    val served = IndexMaintain.search(spark, root,
      Seq("spark", "data", "vector"), nDocs = docs.count())
    val want = graft.text.Postings.keywordSearch(spark, sf())
      .collect().map(_.toSeq)
    assert(served.collect().map(_.toSeq).toSeq == want.toSeq,
      "served ranking must be bit-identical to the corpus scan")
    assert(want.nonEmpty)
    // the term predicate reaches the zone's parquet scans — the
    // O(terms' postings) claim
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*(In|EqualTo)\\(term[^\\]]*\\].*"),
      "term IN (...) did not reach the parquet scan:\n" + plan)
  }
}
