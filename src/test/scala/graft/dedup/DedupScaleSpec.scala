package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Adversarial-shape stress: a power-law duplicate corpus (clone
  * cluster sizes ~ 2000/k — the head-heavy distribution mass
  * duplication actually produces, not the near-uniform testdata). The
  * witness that the capped-bucket expansion and the groupBy-min
  * contraction hold at skew: candidate volumes stay LINEAR in corpus
  * (q37 shape) / batch (q115 shape), and connected components labels
  * every cluster correctly with no window gather. Measured volumes for
  * this corpus are recorded in PLANS.md (§scale-stress). */
class DedupScaleSpec extends SparkSpec {

  // cluster k (k = 1..10): 2000/k identical clones with ids
  // k*10000 + i — contiguous ids make cluster membership checkable
  // and pmod-10 delta membership ~20% per cluster; 300 singletons
  // with fully distinct token streams
  private val clusterSizes: Map[Int, Int] =
    (1 to 10).map(k => k -> (2000 / k)).toMap
  private val totalClones = clusterSizes.values.sum // 5856
  private val singletons = 300

  private lazy val dir: String = {
    import spark.implicits._
    val d = SparkSpec.tempDir("powerlaw_docs").toString
    // per-cluster token streams are fully DISJOINT (every token embeds
    // k) — shared filler words would make the clusters true near-dups
    // of each other, which LSH then correctly (but unhelpfully for
    // this fixture) pairs across clusters
    val clones = clusterSizes.toSeq.flatMap { case (k, sz) =>
      val text = (0 until 12).map(j => s"c${k}t${j}q").mkString(" ")
      (0 until sz).map(i => (k * 10000L + i, text, "a"))
    }
    val uniques = (0 until singletons).map(i => (900000L + i,
      (0 until 8).map(j => s"zq${i}x${j}w").mkString(" "), "a"))
    (clones ++ uniques).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def cluster(id: Long): Long = id / 10000L

  test("q37 shape: candidate volume linear in corpus under power-law skew") {
    val pairs = Dedup.minhashLshPairs(spark, dir, maxBucket = 100)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    // star+chain per capped bucket: ≤ 2 pairs per member, NOT the
    // ~2M pairs full expansion of the 2000-clone head cluster alone
    assert(pairs.length <= 2 * totalClones,
      s"pair volume ${pairs.length} superlinear (docs=$totalClones)")
    // precision at skew: no cross-cluster or singleton pair
    assert(pairs.forall { case (a, b) =>
      cluster(a) == cluster(b) && a < 900000L })
    // recall at skew: every cluster remains ONE connected component
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    for ((k, sz) <- clusterSizes) {
      val roots = (0 until sz).map(i => find(k * 10000L + i)).toSet
      assert(roots.size == 1, s"cluster $k split into ${roots.size}")
    }
  }

  test("q36 shape: prefix-filter candidates track the output, zero cross-cluster noise") {
    // Clones have 12 tokens each ⟹ prefix = 12 − ⌈0.8·12⌉ + 1 = 3.
    // Within a cluster every clone is identical, so each prefix token
    // pairs every clone pair: candidates = 3 × Σ C(sz,2) EXACTLY — a
    // fixed small multiple of the TRUE pair count (which is itself
    // quadratic per cluster only because every clone pair genuinely IS
    // a duplicate). Cross-cluster token streams are disjoint and
    // singleton streams unique, so not one wasted candidate crosses a
    // cluster — where source-blocked all-pairs would generate
    // C(6156,2) ≈ 18.9M intersections regardless of output size.
    val truePairs = clusterSizes.values
      .map(sz => sz.toLong * (sz - 1) / 2).sum
    val cand = Dedup.jaccardCandidates(
      Dedup.jaccardTokenSets(spark, dir))
    val crossCluster = cand.where(
      expr("id1 DIV 10000 <> id2 DIV 10000")).count()
    assert(crossCluster == 0L,
      s"$crossCluster candidates crossed disjoint-token clusters")
    val n = cand.count()
    assert(n == 3L * truePairs,
      s"candidate volume $n != prefixLen(3) x truePairs($truePairs)")
  }

  test("q115 shape: delta pairs track the batch, never intra-corpus") {
    val cap = 20
    val dp = Dedup.minhashDeltaPairs(spark, dir, maxBucket = cap)
      .select(col("corpus_id"), col("delta_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deltaClones = clusterSizes.toSeq.map { case (k, sz) =>
      (0 until sz).count(i => Math.floorMod(k * 10000L + i, 10L) >= 8L)
    }.sum
    // only corpus × delta — the intra-corpus quadratic bulk is never
    // generated, so per-batch cost tracks the delta even when the
    // corpus side of the bucket is a 2000-clone head cluster
    assert(dp.nonEmpty)
    assert(dp.forall { case (c, d) =>
      Math.floorMod(c, 10L) < 8L && Math.floorMod(d, 10L) >= 8L })
    assert(dp.length <= cap * deltaClones,
      s"${dp.length} pairs for $deltaClones delta docs exceeds the " +
        s"capped O(maxBucket x delta) bound")
    // within-cluster only
    assert(dp.forall { case (c, d) => cluster(c) == cluster(d) })
  }

  test("q140 shape: dup-gram scoring exact under mass duplication, no pair expansion") {
    // clones: 12 tokens → 8 5-grams, all shared cluster-wide → exactly
    // 1.0; singletons: 4 unique grams → exactly 0.0. The shape point:
    // scoring is one gram aggregate + occurrence join-back — LINEAR in
    // gram occurrences even when the head cluster alone would be ~2M
    // pairs under any pairwise spelling.
    val rows = graft.text.CorpusStats.dupGramFraction(spark, dir).collect()
    assert(rows.length == totalClones + singletons)
    rows.foreach { r =>
      val (id, f) = (r.getAs[Long]("doc_id"), r.getAs[Double]("dup_fraction"))
      if (id < 900000L) assert(f == 1.0, s"clone $id scored $f")
      else assert(f == 0.0, s"singleton $id scored $f")
    }
  }

  test("q141 shape: decontamination burns exactly the clusters with an eval member") {
    import spark.implicits._
    // ground-truth split from the operator's own hash (the mapping is
    // the contract under test elsewhere; here it derives expectations)
    val allIds = clusterSizes.toSeq.flatMap { case (k, sz) =>
      (0 until sz).map(i => k * 10000L + i) } ++
      (0 until singletons).map(i => 900000L + i)
    val isTrain = allIds.toDF("doc_id")
      .select(col("doc_id"),
        graft.ops.Sampling.isTrainDoc(col("doc_id")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val evalTouched = clusterSizes.keySet.filter(k =>
      (0 until clusterSizes(k)).exists(i => !isTrain(k * 10000L + i)))
    val got = graft.text.TextAnalysis.decontaminate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("kept")).toMap
    assert(got.keySet == isTrain.filter(_._2).keySet,
      "decontamination must emit exactly the train docs")
    got.foreach { case (id, kept) =>
      val expected =
        if (id >= 900000L) true // unique grams — never contaminated
        else !evalTouched(cluster(id).toInt) // any eval clone burns all
      assert(kept == expected, s"doc $id kept=$kept expected=$expected")
    }
    assert(evalTouched.nonEmpty, "fixture should contaminate some cluster")
  }

  test("q145 shape: span scrub annihilates clone clusters, spares singletons") {
    // every clone position is covered by a cluster-shared 5-gram →
    // scrubbed to empty; singleton grams are unique → untouched. The
    // coverage explode is k × SHARED occurrences (linear), deduped to
    // at most the corpus token count — never a pair relation.
    val rows = graft.text.CorpusStats.exactSpanScrub(spark, dir).collect()
    assert(rows.length == totalClones + singletons)
    var scrubbed = 0L
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id < 900000L) {
        assert(r.getAs[Long]("n_kept") == 0L &&
          r.getAs[String]("cleaned_text") == "", s"clone $id survived")
        scrubbed += r.getAs[Long]("n_scrubbed")
      } else assert(r.getAs[Long]("n_scrubbed") == 0L,
        s"singleton $id was scrubbed")
    }
    assert(scrubbed == 12L * totalClones, "coverage must be exactly every clone token")
  }

  test("q150 shape: keep-first scrub leaves exactly one copy per clone cluster") {
    // survivor selection is a groupBy-MIN over chunk fingerprints: the
    // head cluster's ~2000 identical chunk occurrences partial-reduce
    // map-side (never a window gather, never a pair relation), and
    // exactly the min-doc_id clone survives with all 12 tokens.
    val rows = graft.text.CorpusStats.keepFirstScrub(spark, dir).collect()
    assert(rows.length == totalClones + singletons)
    val (clones, uniq) = rows.partition(_.getAs[Long]("doc_id") < 900000L)
    clones.groupBy(r => cluster(r.getAs[Long]("doc_id"))).foreach {
      case (k, rs) =>
        val kept = rs.map(_.getAs[Long]("n_tokens_kept")).sum
        assert(kept == 12L, s"cluster $k kept $kept tokens, want one copy")
        val minDoc = rs.map(_.getAs[Long]("doc_id")).min
        rs.foreach { r =>
          val id = r.getAs[Long]("doc_id")
          if (id == minDoc)
            assert(r.getAs[Long]("n_dropped") == 0L,
              s"survivor $id lost chunks")
          else
            assert(r.getAs[Long]("n_tokens_kept") == 0L &&
              r.getAs[String]("cleaned_text") == "",
              s"non-first clone $id kept content")
        }
    }
    uniq.foreach { r =>
      assert(r.getAs[Long]("n_dropped") == 0L,
        s"singleton ${r.getAs[Long]("doc_id")} was scrubbed")
    }
  }

  test("q116 shape: a 100%-skewed length bucket still batches exactly") {
    // every doc lands in bucket 0 (8-12 tokens, width 32) — the
    // one-task-per-bucket trap the sub-split exists for. Exact-fill
    // and pad bounds must hold on the mega-bucket.
    val rows = graft.text.CorpusStats.lengthBatches(spark, dir).collect()
    val n = totalClones + singletons
    assert(rows.length == n)
    val byBatch = rows.groupBy(r =>
      (r.getAs[Long]("bucket"), r.getAs[Long]("batch_no")))
    assert(byBatch.values.forall(_.size <= 16))
    assert(byBatch.values.count(_.size == 16) == n / 16,
      "every batch except the tail must be exactly full")
    assert(rows.forall(_.getAs[Long]("pad") <= 4L),
      "pad bounded by the in-bucket length spread")
  }

  test("q142: Hamilton allocation exact under 1000:1 strata skew") {
    import spark.implicits._
    val docs = ((0 until 10000).map(i => (i.toLong, "big")) ++
      (0 until 10).map(i => (100000L + i, "mid")) ++
      (0 until 7).map(i => (200000L + i, "tiny")))
      .toDF("doc_id", "source")
    // target 100, N=10017: base=(99,0,0), remainders (8317,1000,700),
    // 1 leftover seat → big. Proportionality at this skew honestly
    // zeroes the minnows — and Σ is EXACTLY the target, no drift.
    val a = graft.ops.Sampling.stratifiedSample(docs, 100).collect()
    assert(a.length == 100 && a.forall(_.getAs[String]("source") == "big"))
    // target 1000: base=(998,0,0), remainders (3034,10000,7000), 2
    // seats → mid, tiny: minorities get their largest-remainder seat
    val b = graft.ops.Sampling.stratifiedSample(docs, 1000).collect()
    val bySrc = b.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.length).toMap
    assert(bySrc == Map("big" -> 998, "mid" -> 1, "tiny" -> 1), bySrc.toString)
  }

  test("q161 shape: winnowing pairs are exactly the clone-cluster closure") {
    // identical clones share every fingerprint, so pairs are the full
    // within-cluster closure — genuinely quadratic in CLUSTER size
    // because the OUTPUT is (the q36 argument); what must NOT happen
    // is cross-cluster or singleton noise, and the volume must be
    // exactly the closure, not fingerprint-count-inflated.
    // minShared=1: a doc's windows can all share one min value, so
    // identical docs are only guaranteed ≥1 shared fingerprint.
    val pairs = Dedup.winnowPairs(spark, dir, minShared = 1).cache()
    val expected = clusterSizes.values
      .map(sz => sz.toLong * (sz - 1) / 2).sum
    assert(pairs.count() == expected,
      s"pair volume != clone closure ($expected)")
    assert(pairs.where(
      expr("id1 DIV 10000 != id2 DIV 10000")).count() == 0,
      "cross-cluster winnow pair")
    assert(pairs.where(col("id1") >= 900000L || col("id2") >= 900000L)
      .count() == 0, "singleton paired")
    pairs.unpersist()
  }

  test("connected components labels the power-law clusters at scale") {
    import spark.implicits._
    val pairs = Dedup.minhashLshPairs(spark, dir, maxBucket = 100)
      .select(col("id1").as("a"), col("id2").as("b"))
    // the loop, forced: this case exists to test it at scale
    val labels = Dedup.connectedComponents(pairs, 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == totalClones)
    for ((k, sz) <- clusterSizes; i <- Seq(0, sz - 1))
      assert(labels(k * 10000L + i) == k * 10000L,
        s"cluster $k not rooted at its min id")
  }
}
