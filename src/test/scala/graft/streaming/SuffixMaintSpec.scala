package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.CorpusStats

/** The q313 incremental-admission contract: initializing the suffix
  * zone from part of the corpus and folding the rest in as batches —
  * with a replayed batch and re-admitted doc_ids thrown in — must
  * reproduce EXACTLY the batch path's duplicate-substring report
  * (q313's grouped output), because the per-position neighbor-LCP is
  * a pure function of the global suffix order and the maintainer
  * rebuilds precisely the buckets whose neighborhoods an insertion
  * can reach. */
class SuffixMaintSpec extends SparkSpec {

  private def docsOf(dir: String) =
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))

  private def report(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[String]("sub"),
      r.getAs[Long]("tok_len"), r.getAs[Long]("n_starts"),
      r.getAs[Long]("n_docs"))).toSet

  test("delta-admitted ≡ full rebuild, hash-identical q313 output, " +
    "under replay and re-admission") {
    val dir = sf()
    val root = SparkSpec.tempDir("graft-sfxmaint-").toString
    val docs = docsOf(dir)
    // init on ~60%, then two out-of-order batches; 8 buckets so a
    // batch genuinely touches a subset and neighbors matter
    SuffixMaint.init(spark, docs.where(pmod(col("doc_id"), lit(5)) < 3),
      root, buckets = 8)
    val b1 = docs.where(pmod(col("doc_id"), lit(5)) === 4)
    val b2 = docs.where(pmod(col("doc_id"), lit(5)) === 3)
    SuffixMaint.foldBatch(spark, b1, root, 1L)
    // crash replay: same batch id folds again — idempotent
    SuffixMaint.foldBatch(spark, b1, root, 1L)
    // re-admission: batch 2 carries already-admitted docs
    SuffixMaint.foldBatch(spark, b2.unionByName(b1.limit(5)), root, 2L)
    val got = report(SuffixMaint.readDupSubstrings(spark, root))
    val want = report(CorpusStats.dupSubstrings(spark, dir))
    assert(want.nonEmpty, "fixture has no duplicate substrings")
    assert(got == want,
      s"incremental/batch drift: extra=${(got diff want).take(3)} " +
        s"missing=${(want diff got).take(3)}")
  }

  test("single-bucket layout and empty batches behave") {
    val dir = sf()
    val root = SparkSpec.tempDir("graft-sfxmaint1-").toString
    val docs = docsOf(dir)
    SuffixMaint.init(spark, docs.where(col("doc_id") % 2 === 0),
      root, buckets = 1)
    SuffixMaint.foldBatch(spark, docs.where(col("doc_id") % 2 === 1),
      root, 1L)
    // a fully re-admitted (hence empty) batch is a no-op
    SuffixMaint.foldBatch(spark, docs.limit(7), root, 2L)
    val got = report(SuffixMaint.readDupSubstrings(spark, root))
    val want = report(CorpusStats.dupSubstrings(spark, dir))
    assert(got == want)
  }

  test("inflight marker fences reads AND other folds; only the same " +
    "batchId replays and converges") {
    val dir = sf()
    val root = SparkSpec.tempDir("graft-sfxmaint2-").toString
    val docs = docsOf(dir)
    SuffixMaint.init(spark, docs.where(col("doc_id") % 2 === 0),
      root, buckets = 4)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // a crashed fold of batch 1: marker present, carrying its batchId
    val m = fs.create(new org.apache.hadoop.fs.Path(
      s"$root/${SuffixMaint.InflightMarker}"), true)
    m.write("1".getBytes("UTF-8")); m.close()
    intercept[IllegalArgumentException] {
      SuffixMaint.readDupSubstrings(spark, root)
    }
    // a DIFFERENT batch may not fold over the half-applied state
    // (round-11 ADVICE: the fold fence, not just the read fence)
    intercept[IllegalArgumentException] {
      SuffixMaint.foldBatch(spark, docs.limit(3), root, 2L)
    }
    // the legitimate replay (same batchId) clears the marker and
    // converges
    SuffixMaint.foldBatch(spark, docs.where(col("doc_id") % 2 === 1),
      root, 1L)
    val got = report(SuffixMaint.readDupSubstrings(spark, root))
    assert(got == report(CorpusStats.dupSubstrings(spark, dir)))
  }

  test("split keys dedupe by content: a clone-heavy sample leaves no " +
    "equal adjacent splits") {
    import spark.implicits._
    // a corpus dominated by ONE repeated text makes most sampled
    // suffix keys identical — reference-equality distinct kept them
    // all (round-11 ADVICE), wasting permanently-empty buckets
    val root = SparkSpec.tempDir("graft-sfxsplit-").toString
    val dir = SparkSpec.tempDir("graft-sfxsplitdocs-").toString
    val docs = ((0L until 60L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon")) ++
      Seq((100L, "one entirely different document body present here " +
        "with its own words and no overlap at all")))
      .toDF("doc_id", "text")
    docs.withColumn("source", lit("a")).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    SuffixMaint.init(spark, docs, root, buckets = 8)
    val keys = spark.read.parquet(s"$root/splits")
      .where(col("i") >= 0).orderBy("i")
      .collect().map(_.getSeq[String](1))
    assert(keys.distinct.length == keys.length,
      s"content-equal split keys survived: ${keys.mkString("; ")}")
    // and the zone still reports exactly the batch answer
    val got = report(SuffixMaint.readDupSubstrings(spark, root))
    assert(got == report(CorpusStats.dupSubstrings(spark, dir)))
  }

  test("compact: squashed zones read identically, later folds still " +
    "converge, crash windows fence and re-run converges") {
    val dir = sf()
    val root = SparkSpec.tempDir("graft-sfxcompact-").toString
    val docs = docsOf(dir)
    SuffixMaint.init(spark, docs.where(pmod(col("doc_id"), lit(5)) < 2),
      root, buckets = 8)
    (2 to 4).foreach { k =>
      SuffixMaint.foldBatch(spark,
        docs.where(pmod(col("doc_id"), lit(5)) === k), root, k - 1L)
    }
    val before = report(SuffixMaint.readDupSubstrings(spark, root))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // refused: upToEpoch == newest batch (the one a stream replays)
    intercept[IllegalArgumentException] {
      SuffixMaint.compact(spark, root, upToEpoch = 3L)
    }
    assert(!fs.exists(p(s"$root/${SuffixMaint.CompactMarker}")),
      "refused compact left its marker behind")
    SuffixMaint.compact(spark, root, upToEpoch = 2L)
    // layout after: no bucket holds more than ONE run at or below
    // the squash epoch (buckets touched by a single batch only were
    // already one-run and skip)
    def bucketEpochs(b: String): Seq[Long] =
      new java.io.File(s"$root/sfx/$b").listFiles()
        .map(_.getName).filter(_.startsWith("epoch="))
        .map(_.stripPrefix("epoch=").toLong).toSeq
    val sfxBuckets = new java.io.File(s"$root/sfx").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSeq
    sfxBuckets.foreach { b =>
      assert(bucketEpochs(b).count(_ <= 2L) <= 1,
        s"$b unsquashed: ${bucketEpochs(b)}")
    }
    assert(report(SuffixMaint.readDupSubstrings(spark, root)) == before,
      "compact changed the read")
    // publish-rename crash window: a bucket's squashed epoch moved
    // aside to .backup, marker held — reads and folds fence; the
    // re-run restores the orphan and converges
    val b0 = sfxBuckets.find(bucketEpochs(_).contains(2L))
      .getOrElse(fail("no bucket holds a squashed epoch=2 run"))
    assert(fs.rename(p(s"$root/sfx/$b0/epoch=2"),
      p(s"$root/sfx/$b0/.backup-2")))
    val cm = fs.create(p(s"$root/${SuffixMaint.CompactMarker}"), true)
    cm.write("2".getBytes("UTF-8")); cm.close()
    intercept[IllegalArgumentException] {
      SuffixMaint.readDupSubstrings(spark, root)
    }
    intercept[IllegalArgumentException] {
      SuffixMaint.foldBatch(spark, docs.limit(3), root, 4L)
    }
    // round-12 ADVICE: a re-run with a DIFFERENT upToEpoch is
    // refused — squashing survivors into a second epoch while the
    // partial squash holds the same rows would break run disjointness
    intercept[IllegalArgumentException] {
      SuffixMaint.compact(spark, root, upToEpoch = 1L)
    }
    SuffixMaint.compact(spark, root, upToEpoch = 2L)
    assert(!fs.exists(p(s"$root/${SuffixMaint.CompactMarker}")))
    assert(!fs.exists(p(s"$root/sfx/$b0/.backup-2")))
    assert(report(SuffixMaint.readDupSubstrings(spark, root)) == before,
      "orphan-backup recovery lost rows")
    // publish-done-deletes-pending window: squashed run AND its
    // originals side by side (simulated by re-unioning epochs 2+3
    // into epoch=3... kept BELOW a newer batch), marker held — the
    // re-run's union+distinct restores exact content
    SuffixMaint.foldBatch(spark, docs.limit(0), root, 4L) // batch 4
    // epoch data files carry (doc_id, p, key) only — bucket/epoch
    // live in the directory names, so the simulated run must too
    val runs = bucketEpochs(b0).filter(_ <= 3L)
    val dupUnion = spark.read.option("basePath", s"$root/sfx")
      .parquet(runs.map(e => s"$root/sfx/$b0/epoch=$e"): _*)
      .drop("epoch", "bucket")
    dupUnion.write.mode("overwrite")
      .parquet(s"$root/sfx/$b0/.staging-sim")
    fs.delete(p(s"$root/sfx/$b0/epoch=3"), true)
    assert(fs.rename(p(s"$root/sfx/$b0/.staging-sim"),
      p(s"$root/sfx/$b0/epoch=3")))
    val cm3 = fs.create(p(s"$root/${SuffixMaint.CompactMarker}"), true)
    cm3.write("3".getBytes("UTF-8")); cm3.close()
    intercept[IllegalArgumentException] {
      SuffixMaint.readDupSubstrings(spark, root)
    }
    SuffixMaint.compact(spark, root, upToEpoch = 3L)
    assert(!fs.exists(p(s"$root/${SuffixMaint.CompactMarker}")))
    assert(report(SuffixMaint.readDupSubstrings(spark, root)) == before,
      "duplicated-run convergence failed")
    // and the zone still folds + reads the full corpus correctly
    SuffixMaint.foldBatch(spark,
      docs.where(pmod(col("doc_id"), lit(5)) === 0), root, 5L)
    assert(report(SuffixMaint.readDupSubstrings(spark, root)) ==
      report(CorpusStats.dupSubstrings(spark, dir)))
  }

  test("compactNeeded triggers on run-log depth; compact resets it") {
    val dir = sf()
    val root = SparkSpec.tempDir("graft-sfxneed-").toString
    val docs = docsOf(dir)
    // ONE bucket so every fold deepens the same run log
    SuffixMaint.init(spark, docs.where(pmod(col("doc_id"), lit(6)) === 0),
      root, buckets = 1)
    assert(!SuffixMaint.compactNeeded(spark, root, maxRuns = 4))
    (1 to 3).foreach { k =>
      SuffixMaint.foldBatch(spark,
        docs.where(pmod(col("doc_id"), lit(6)) === k), root, k.toLong)
    }
    // 4 runs (init epoch 0 + 3 folds) in the one bucket
    assert(SuffixMaint.compactNeeded(spark, root, maxRuns = 4))
    assert(!SuffixMaint.compactNeeded(spark, root, maxRuns = 5))
    val before = report(SuffixMaint.readDupSubstrings(spark, root))
    SuffixMaint.compact(spark, root, upToEpoch = 2L)
    assert(!SuffixMaint.compactNeeded(spark, root, maxRuns = 4),
      "squashed log still reports compact needed")
    // zone content untouched by the squash
    assert(report(SuffixMaint.readDupSubstrings(spark, root)) == before)
  }

  test("corrupt/empty markers degrade to the documented resolve-by-" +
    "hand refusal, not a parse error") {
    val dir = sf()
    val root = SparkSpec.tempDir("graft-sfxcorrupt-").toString
    val docs = docsOf(dir)
    SuffixMaint.init(spark, docs.limit(5), root, buckets = 1)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // corrupt fold marker (partially-written garbage): every fold —
    // including a would-be replay — is refused with the require
    // message naming batch -1, NOT a NumberFormatException
    val m = fs.create(p(s"$root/${SuffixMaint.InflightMarker}"), true)
    m.write("12#4".getBytes("UTF-8")); m.close()
    val e = intercept[IllegalArgumentException] {
      SuffixMaint.foldBatch(spark, docs.limit(3), root, 1L)
    }
    assert(e.getMessage.contains("-1"), e.getMessage)
    fs.delete(p(s"$root/${SuffixMaint.InflightMarker}"), false)
    // legacy EMPTY compact marker (pre-fence crash): compact refuses
    // at any upToEpoch (reads as -1), operator resolves by hand
    SuffixMaint.foldBatch(spark, docs, root, 1L)
    fs.create(p(s"$root/${SuffixMaint.CompactMarker}"), true).close()
    val e2 = intercept[IllegalArgumentException] {
      SuffixMaint.compact(spark, root, upToEpoch = 0L)
    }
    assert(e2.getMessage.contains("-1"), e2.getMessage)
  }
}
