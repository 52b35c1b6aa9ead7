package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sim.Similarity

/** The streaming admission twin's exactness contract: folding the
  * corpus in as out-of-order micro-batches — with a replayed batch
  * and re-admitted ids thrown in — must produce EXACTLY the batch
  * path's pair set (q309's fixed 8×4 shape), bit-identical cosines
  * included. */
class NearDupMaintSpec extends SparkSpec {

  test("stream admission ≡ batch scaled near-dup under out-of-order " +
    "delivery, crash replay, and duplicate re-admission") {
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val root = SparkSpec.tempDir("graft-ndmaint-").toString
    // three out-of-order slices (admission order ≠ id order)
    val s0 = emb.where(pmod(col("vec_id"), lit(3)) === 2)
    val s1 = emb.where(pmod(col("vec_id"), lit(3)) === 0)
    val s2 = emb.where(pmod(col("vec_id"), lit(3)) === 1)
    NearDupMaint.foldBatch(s0, root, 0L, 8, 4, 0.45)
    NearDupMaint.foldBatch(s1, root, 1L, 8, 4, 0.45)
    // crash replay: batch 1 folds AGAIN — must be idempotent (reads
    // only epochs < 1, overwrites epoch=1 with identical content)
    NearDupMaint.foldBatch(s1, root, 1L, 8, 4, 0.45)
    // re-admission: batch 2 carries ids already admitted in batch 0
    NearDupMaint.foldBatch(s2.unionByName(s0.limit(10)), root, 2L,
      8, 4, 0.45)
    val got = NearDupMaint.readPairs(spark, root).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Double]("cosine"))).toSet
    val want = Similarity.nearDupPairsShaped(spark, sf(), 8, 4, 0.45)
      .collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Double]("cosine"))).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"stream/batch drift: ${(got diff want).take(3)} vs " +
        s"${(want diff got).take(3)}")
    // the vector zone holds each id exactly once despite the
    // re-admission (anti-join guard) and the replay (epoch overwrite)
    val ids = NearDupMaint.readVectors(spark, root).collect()
      .map(_.getAs[Long]("vec_id"))
    assert(ids.length == ids.distinct.length)
    assert(ids.length == emb.count())
    // epoch compaction is a pure layout change: squash {0,1} → 1,
    // readers see identical content with fewer directories
    NearDupMaint.compact(spark, root, upToEpoch = 1L)
    val afterCompact = NearDupMaint.readPairs(spark, root).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Double]("cosine"))).toSet
    assert(afterCompact == want)
    val vecDir = new java.io.File(s"$root/vectors")
    assert(vecDir.listFiles().count(_.getName.startsWith("epoch=")) == 2)
    // compacting the NEWEST epoch is refused (it is the one batch a
    // crash-replay can re-derive from its predecessors)
    intercept[IllegalArgumentException] {
      NearDupMaint.compact(spark, root, upToEpoch = 2L)
    }
  }

  test("compact crash recovery: orphan backup restored, inflight " +
    "marker fences folds and reads, re-run converges") {
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).limit(120)
    val root = SparkSpec.tempDir("graft-ndcrash-").toString
    def slice(k: Int) = emb.where(pmod(col("vec_id"), lit(4)) === k)
    NearDupMaint.foldBatch(slice(0), root, 0L, 8, 4, -1.0)
    NearDupMaint.foldBatch(slice(1), root, 1L, 8, 4, -1.0)
    NearDupMaint.foldBatch(slice(2), root, 2L, 8, 4, -1.0)
    val want = NearDupMaint.readPairs(spark, root).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Double]("cosine"))).toSet

    // --- publish-rename window (compact ADVICE #1): epoch=1 of
    // pairs was moved aside to .backup-1 and the staging swap never
    // happened; the marker is still held. The backup is the SOLE
    // surviving copy of batch 1's pairs.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fs.rename(p(s"$root/pairs/epoch=1"),
      p(s"$root/pairs/.backup-1")))
    val m1 = fs.create(p(s"$root/${NearDupMaint.InflightMarker}"), true)
    m1.write("1".getBytes("UTF-8")); m1.close()
    // marker fences the fold AND both readers
    intercept[IllegalArgumentException] {
      NearDupMaint.foldBatch(slice(3), root, 3L, 8, 4, -1.0)
    }
    intercept[IllegalArgumentException] {
      NearDupMaint.readPairs(spark, root)
    }
    intercept[IllegalArgumentException] {
      NearDupMaint.readVectors(spark, root)
    }
    // re-running compact restores the orphan, squashes, clears marker
    NearDupMaint.compact(spark, root, upToEpoch = 1L)
    assert(!fs.exists(p(s"$root/${NearDupMaint.InflightMarker}")))
    assert(!fs.exists(p(s"$root/pairs/.backup-1")))
    val afterRecover = NearDupMaint.readPairs(spark, root).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Double]("cosine"))).toSet
    assert(afterRecover == want,
      s"recovery lost rows: ${(want diff afterRecover).take(3)}")

    // --- swap-done-deletes-pending window (compact ADVICE #2):
    // epochs are now {1, 2}; admit a fourth slice (epoch=3), then
    // simulate a compact(2) that crashed after publishing the
    // squashed union at epoch=2 but before deleting epoch=1 —
    // duplicated vec_ids across epochs, marker held.
    NearDupMaint.foldBatch(slice(3), root, 3L, 8, 4, -1.0)
    val wantIds = emb.collect().map(_.getAs[Long]("vec_id")).toSet
    val dupUnion = spark.read.parquet(
      s"$root/vectors/epoch=1", s"$root/vectors/epoch=2").distinct()
    graft.sinks.SwapPublish.writeEpoch(dupUnion, s"$root/vectors", 2L)
    val m2 = fs.create(p(s"$root/${NearDupMaint.InflightMarker}"), true)
    m2.write("2".getBytes("UTF-8")); m2.close()
    // the duplicated predecessor state is fenced off...
    intercept[IllegalArgumentException] {
      NearDupMaint.readVectors(spark, root)
    }
    // ...and the re-run converges: union(epoch1, epoch2).distinct()
    // restores exactly the original rows, epoch=1 is dropped
    NearDupMaint.compact(spark, root, upToEpoch = 2L)
    assert(!fs.exists(p(s"$root/${NearDupMaint.InflightMarker}")))
    val ids = NearDupMaint.readVectors(spark, root).collect()
      .map(_.getAs[Long]("vec_id"))
    assert(ids.length == ids.distinct.length,
      "duplicated vec_ids survived the compact re-run")
    assert(ids.toSet == wantIds)
    assert(NearDupMaint.readPairs(spark, root).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
      .nonEmpty)
  }

  test("a compact re-run with a different upToEpoch is refused, " +
    "naming the held one") {
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).limit(120)
    val root = SparkSpec.tempDir("graft-ndfence-").toString
    def slice(k: Int) = emb.where(pmod(col("vec_id"), lit(4)) === k)
    (0 to 3).foreach(k =>
      NearDupMaint.foldBatch(slice(k), root, k.toLong, 8, 4, -1.0))
    def pairs = NearDupMaint.readPairs(spark, root).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSeq
    val want = pairs
    assert(want.nonEmpty && want.distinct.length == want.length)
    // a compact(2) that crashed after publishing the squashed pairs at
    // epoch=2 but before deleting epochs 0 and 1: both hold their pairs
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    graft.sinks.SwapPublish.writeEpoch(spark.read.parquet(
      (0 to 2).map(e => s"$root/pairs/epoch=$e"): _*).distinct(),
      s"$root/pairs", 2L)
    val m = fs.create(p(s"$root/${NearDupMaint.InflightMarker}"), true)
    m.write("2".getBytes("UTF-8")); m.close()
    // squashing the survivors into epoch 1 would leave batches 0 and
    // 1's pairs in both epoch=1 and epoch=2 and release the fence
    val e = intercept[IllegalArgumentException] {
      NearDupMaint.compact(spark, root, upToEpoch = 1L)
    }
    assert(e.getMessage.contains("upToEpoch=2"), e.getMessage)
    assert(fs.exists(p(s"$root/${NearDupMaint.InflightMarker}")))
    // the re-run with the held value converges to the original pairs
    NearDupMaint.compact(spark, root, upToEpoch = 2L)
    assert(!fs.exists(p(s"$root/${NearDupMaint.InflightMarker}")))
    assert(pairs.sorted == want.sorted)
  }

  test("compact validates every zone before mutating any") {
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).limit(60)
    val root = SparkSpec.tempDir("graft-ndvalid-").toString
    NearDupMaint.foldBatch(emb.limit(30), root, 0L, 8, 4, 0.45)
    NearDupMaint.foldBatch(emb, root, 1L, 8, 4, 0.45)
    val before = NearDupMaint.readPairs(spark, root).count()
    // upToEpoch == newest: refused, and NO zone was touched and NO
    // marker left behind (validation precedes the mutation phase)
    intercept[IllegalArgumentException] {
      NearDupMaint.compact(spark, root, upToEpoch = 1L)
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/${NearDupMaint.InflightMarker}")))
    Seq("pairs", "bands", "vectors").foreach { z =>
      val dirs = new java.io.File(s"$root/$z").listFiles()
        .count(_.getName.startsWith("epoch="))
      assert(dirs == 2, s"zone $z mutated by a refused compact")
    }
    assert(NearDupMaint.readPairs(spark, root).count() == before)
    // compacting an empty root is a no-op, not an error
    val emptyRoot = SparkSpec.tempDir("graft-ndempty-").toString
    NearDupMaint.compact(spark, emptyRoot, upToEpoch = 0L)
  }

  test("sink plumbing: a real streaming query drives the same fold") {
    import spark.implicits._
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).limit(60)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](1)))
    val root = SparkSpec.tempDir("graft-ndsink-").toString
    val ckpt = SparkSpec.tempDir("graft-ndsink-ckpt-").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])](spark)
    val q = NearDupMaint.sink(
      ms.toDF().toDF("vec_id", "embedding"), root, ckpt)
    ms.addData(emb.take(30).toSeq)
    q.processAllAvailable()
    ms.addData(emb.drop(30).toSeq)
    q.processAllAvailable()
    q.stop()
    val got = NearDupMaint.readPairs(spark, root).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    // ground truth: brute force over the 60 streamed vectors,
    // intersected with what the banding can see (= the batch path on
    // the same 60 rows, computed via one fold into a fresh zone)
    val root2 = SparkSpec.tempDir("graft-ndsink2-").toString
    val sixty = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).limit(60)
    NearDupMaint.foldBatch(sixty, root2, 0L, 8, 4, 0.45)
    val want = NearDupMaint.readPairs(spark, root2).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(got == want)
  }
}
