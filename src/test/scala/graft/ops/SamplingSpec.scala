package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.CorpusStats

/** Semantic properties of the sampling/splitting and corpus-stats
  * operators (the oracle gate checks cross-engine equality; these
  * check the CONTRACTS). */
class SamplingSpec extends SparkSpec {

  test("q102: split is a partition of the corpus and is id-stable") {
    val split = Sampling.hashSplit(spark, sf()).cache()
    val total = spark.read.parquet(s"${sf()}/documents.parquet").count()
    assert(split.count() == total) // every doc assigned exactly once
    assert(split.select("split").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // growing the corpus must not move existing docs: run the SPLIT on
    // a physically smaller corpus (half the docs written to a temp
    // zone) and require assignments to agree with the full-corpus run —
    // a corpus-dependent split (ntile, rand) fails this
    val tmp = SparkSpec.tempDir("split_half").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .where(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val half = Sampling.hashSplit(spark, tmp)
      .select(col("doc_id"), col("split").as("split2"))
    assert(half.count() > 0)
    val moved = split.join(half, "doc_id")
      .where(col("split") =!= col("split2")).count()
    assert(moved == 0)
    // rough proportions: train should dominate (90/5/5 nominal)
    val train = split.where(col("split") === "train").count()
    assert(train > total * 8 / 10 && train < total * 97 / 100)
    split.unpersist()
  }

  test("q310: sample quantiles are rank-faithful and the sample is " +
    "prefix-stable under corpus growth") {
    val out = Sampling.sampleQuantiles(spark, sf()).cache()
    val rows = out.collect()
    assert(rows.map(_.getAs[Long]("q")).toSeq == Seq(25L, 50L, 75L, 95L))
    // the DKW witness must hold on real data, not just gate-compare
    assert(rows.forall(_.getAs[Boolean]("within_bound")))
    val n = spark.read.parquet(s"${sf()}/orders.parquet").count()
    assert(rows.forall(_.getAs[Long]("sample_k") ==
      math.min(Sampling.QuantK.toLong, n)))
    // estimates are monotone in q (lower quantile of one sample)
    val ests = rows.sortBy(_.getAs[Long]("q")).map(_.getAs[Double]("est"))
    assert(ests.zip(ests.tail).forall { case (a, b) => a <= b })
    // mergeability witness: the bottom-K of the corpus is the bottom-K
    // of the union of per-half bottom-Ks (hash-order is global, so a
    // shard split cannot change the selected sample)
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
      .select(col("o_orderkey"),
        graft.dedup.Md5Prefix.h(col("o_orderkey").cast("string")).as("h"))
    val full = orders.orderBy("h", "o_orderkey")
      .limit(Sampling.QuantK).collect().map(_.getLong(0)).toSet
    val halves = Seq(0, 1).map { m =>
      orders.where(col("o_orderkey") % 2 === m)
        .orderBy("h", "o_orderkey").limit(Sampling.QuantK)
    }
    val merged = halves.reduce(_ union _)
      .orderBy("h", "o_orderkey").limit(Sampling.QuantK)
      .collect().map(_.getLong(0)).toSet
    assert(merged == full)
    out.unpersist()
  }

  test("q103: no source exceeds the quota; small sources kept whole") {
    val cap = 100
    val out = Sampling.quotaSample(spark, sf(), cap).cache()
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.forall(_.getLong(1) <= cap))
    val origSizes = spark.read.parquet(s"${sf()}/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val outSizes = perSource.map(r => r.getString(0) -> r.getLong(1)).toMap
    origSizes.foreach { case (src, n) =>
      assert(outSizes.getOrElse(src, 0L) == math.min(n, cap.toLong),
        s"source $src: ${outSizes.get(src)} of $n kept")
    }
    out.unpersist()
  }

  test("q142: exact total, proportional allocation, remainder seats") {
    import spark.implicits._
    // skewed strata where the remainders decide: sizes 7/5/3,
    // target 10 → quotas 4.67/3.33/2 → bases 4/3/2 (sum 9), the one
    // leftover seat goes to the largest remainder (sA at .67)
    val dir = SparkSpec.tempDir("strat_docs").toString
    val rows = (0 until 7).map(i => (100L + i, s"t$i", "sA")) ++
      (0 until 5).map(i => (200L + i, s"t$i", "sB")) ++
      (0 until 3).map(i => (300L + i, s"t$i", "sC"))
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Sampling.stratifiedSample(spark, dir, target = 10)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
    assert(got.length == 10, "Hamilton allocation must hit the target exactly")
    val bySrc = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySrc == Map("sA" -> 5, "sB" -> 3, "sC" -> 2), bySrc.toString)
    // id-stable: rerun picks the identical member set
    val again = Sampling.stratifiedSample(spark, dir, target = 10)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
    assert(got.toSeq == again.toSeq)
    // oversubscribed: a sample can't invent rows — whole corpus back
    val over = Sampling.stratifiedSample(spark, dir, target = 100)
    assert(over.count() == 15)
  }

  test("q142 property: Hamilton allocation is exact-total and near-quota") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    for (case_ <- 0 until 8) {
      val nSrc = 2 + rnd.nextInt(5)
      val sizes = Seq.fill(nSrc)(1 + rnd.nextInt(40))
      val n = sizes.sum
      val target = 1 + rnd.nextInt(n)
      val dir = SparkSpec.tempDir(s"ham$case_").toString
      sizes.zipWithIndex.flatMap { case (sz, k) =>
        (0 until sz).map(i => (k * 1000L + i, s"t$i", s"s$k"))
      }.toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Sampling.stratifiedSample(spark, dir, target)
        .groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.values.sum == target,
        s"case $case_: total ${got.values.sum} != $target")
      // largest-remainder never strays more than 1 from the real quota
      sizes.zipWithIndex.foreach { case (sz, k) =>
        val quota = target.toDouble * sz / n
        val alloc = got.getOrElse(s"s$k", 0L).toDouble
        assert(math.abs(alloc - quota) < 1.0 + 1e-9,
          s"case $case_ source s$k: alloc $alloc vs quota $quota")
      }
    }
  }

  test("q145: exact span scrub covers precisely the shared-gram tokens") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("span_docs").toString
    // docs 1 and 2 share exactly the 5-gram "v w x y z" (positions
    // 2-6 in doc 1, 0-4 in doc 2); doc 3 is disjoint; doc 4 is too
    // short for any gram
    Seq(
      (1L, "a b v w x y z c d", "s"),
      (2L, "v w x y z q r s t", "s"),
      (3L, "k1 k2 k3 k4 k5 k6 k7", "s"),
      (4L, "tiny doc", "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusStats.exactSpanScrub(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Number]("n_tokens").longValue(), r.getLong(2),
          r.getString(4))).toMap
    assert(got(1L) == ((9L, 4L, "a b c d")), got(1L).toString)
    assert(got(2L) == ((9L, 4L, "q r s t")), got(2L).toString)
    assert(got(3L) == ((7L, 7L, "k1 k2 k3 k4 k5 k6 k7")))
    assert(got(4L) == ((2L, 2L, "tiny doc")), "short docs never scrubbed")
  }

  test("q104: exactly k rows per doc with enough terms, ranked by tf") {
    val out = CorpusStats.tfidfTopTerms(spark, sf(), k = 3).cache()
    // rank key is (tf desc, df asc, term asc): within a doc, tf is
    // non-increasing by rn
    val bad = out.groupBy("doc_id")
      .agg(min(when(col("rn") === 1, col("tf"))).as("tf1"),
        max(when(col("rn") === 3, col("tf"))).as("tf3"))
      .where(col("tf3") > col("tf1")).count()
    assert(bad == 0)
    assert(out.groupBy("doc_id").count().where(col("count") > 3).count() == 0)
    out.unpersist()
  }

  test("q107: near-dup pair endpoints share a cluster; keep is the min") {
    val clusters = graft.sim.Similarity.embeddingClusters(spark, sf()).cache()
    val pairs = graft.sim.Similarity.nearDupPairs(spark, sf())
    val c1 = clusters.select(col("vec_id").as("id1"), col("cluster_id").as("c1"))
    val c2 = clusters.select(col("vec_id").as("id2"), col("cluster_id").as("c2"))
    assert(pairs.join(c1, "id1").join(c2, "id2")
      .where(col("c1") =!= col("c2")).count() == 0)
    // exactly one survivor per cluster, and it is the min member
    val badKeep = clusters.groupBy("cluster_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("nkeep"),
        min(col("vec_id")).as("minid"))
      .where(col("nkeep") =!= 1 || col("minid") =!= col("cluster_id"))
    assert(badKeep.count() == 0)
    clusters.unpersist()
  }

  test("q108: curation composes its stages (survivor ∧ quality ∧ train ∧ quota)") {
    val curated = Sampling.curatedCorpus(spark, sf()).cache()
    assert(curated.where(col("n_tokens") < 20).count() == 0)
    assert(curated.groupBy("source").count()
      .where(col("count") > 100).count() == 0)
    // curated ⊆ train split
    val split = Sampling.hashSplit(spark, sf())
      .select(col("doc_id"), col("split"))
    assert(curated.join(split, "doc_id")
      .where(col("split") =!= "train").count() == 0)
    // curated ⊆ exact-dedup survivors
    val survivors = graft.dedup.Dedup.keepFirst(spark, sf())
      .select(col("doc_id"))
    assert(curated.join(survivors, Seq("doc_id"), "left_anti").count() == 0)
    curated.unpersist()
  }

  test("q106: every doc chunked, shared counts bounded, dups fully shared") {
    val out = CorpusStats.cdcChunks(spark, sf()).cache()
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").cache()
    assert(out.count() == docs.count())
    assert(out.where(col("n_chunks") < 1).count() == 0)
    assert(out.where(col("n_shared") > col("n_chunks")).count() == 0)
    // exact-duplicate texts chunk identically, so every chunk of a
    // duplicated doc is shared by construction
    val dupIds = docs.groupBy("text")
      .agg(count(lit(1)).as("n"), collect_list("doc_id").as("ids"))
      .where(col("n") > 1)
      .select(explode(col("ids")).as("doc_id"))
    val notFullyShared = out.join(dupIds, "doc_id")
      .where(col("n_shared") =!= col("n_chunks")).count()
    assert(notFullyShared == 0)
    docs.unpersist(); out.unpersist()
  }

  test("q105: ratios in [0,1], hapax consistency, every doc scored") {
    val out = CorpusStats.bigramNovelty(spark, sf()).cache()
    val total = spark.read.parquet(s"${sf()}/documents.parquet").count()
    assert(out.count() == total)
    assert(out.where(col("hapax_ratio") < 0 || col("hapax_ratio") > 1)
      .count() == 0)
    // every bigram occurs at least once corpus-wide, so the mean
    // corpus frequency is >= 1; hapax bigrams contribute exactly 1
    assert(out.where(col("avg_freq") < 1.0).count() == 0)
    assert(out.where(col("n_hapax") > col("n_bigrams")).count() == 0)
    out.unpersist()
  }
  test("q106: degenerate docs (empty / single token) chunk without crashing") {
    import spark.implicits._
    val tmp = SparkSpec.tempDir("cdc_deg").toString
    Seq((1L, "", "s"), (2L, "one", "s"), (3L, "a b c d e f g h", "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusStats.cdcChunks(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out.values.forall(_ >= 1), s"every doc gets >= 1 chunk: $out")
  }

  test("q109: every non-train doc scored, hits bounded by grams") {
    val out = graft.text.TextAnalysis.splitContamination(spark, sf()).cache()
    val nonTrain = Sampling.hashSplit(spark, sf())
      .where(col("split") =!= "train").count()
    assert(out.count() == nonTrain)
    assert(out.where(col("n_hit") > col("n_grams")).count() == 0)
    assert(out.where(col("contamination") < 0 || col("contamination") > 1)
      .count() == 0)
    out.unpersist()
  }

  test("q110: one row per source with consistent ratios") {
    val out = CorpusStats.sourceScorecard(spark, sf()).cache()
    val nSources = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("source").distinct().count()
    assert(out.count() == nSources)
    assert(out.where(col("distinct_texts") > col("n_docs")).count() == 0)
    assert(out.where(col("dup_ratio") < 0 || col("dup_ratio") >= 1)
      .count() == 0)
    assert(out.where(col("avg_tokens") <= 0).count() == 0)
    out.unpersist()
  }

  test("q111: OOV bounded by tokens; common tokens are in-vocab") {
    val out = CorpusStats.vocabCoverage(spark, sf()).cache()
    val total = spark.read.parquet(s"${sf()}/documents.parquet").count()
    assert(out.count() == total)
    assert(out.where(col("n_oov") > col("n_tokens")).count() == 0)
    assert(out.where(col("oov_ratio") < 0 || col("oov_ratio") > 1)
      .count() == 0)
    // the synthetic corpus has a tiny vocabulary (~60 distinct words at
    // sf0.001), so a 1000-token vocab covers everything: OOV must be 0
    assert(out.agg(max(col("n_oov"))).head().getLong(0) == 0L)
    out.unpersist()
  }

  test("q114: mix emits floor(w) copies plus a hash fraction, id-stable") {
    val out = Sampling.sourceMix(spark, sf()).cache()
    // copy numbering is dense 1..n per doc
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("copy_no").as("mx"),
        min("copy_no").as("mn"))
    assert(perDoc.where(col("n") =!= col("mx") || col("mn") =!= 1).count() == 0)
    // every doc of a weight >= 1 source survives with at least
    // floor(w) copies; a 0.25-weight source keeps a strict subset
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySource = out.groupBy("source").agg(
      countDistinct("doc_id").as("nd"), count(lit(1)).as("nc")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Sampling.DefaultMixWeights.foreach { case (src, w) =>
      val n = docs(src)
      val (nd, nc) = bySource.getOrElse(src, (0L, 0L))
      val base = math.floor(w).toLong
      if (base >= 1) assert(nd == n && nc >= base * n && nc <= (base + 1) * n,
        s"$src w=$w docs=$n kept=$nd copies=$nc")
      else assert(nd <= n, s"$src w=$w docs=$n kept=$nd")
    }
    // rerun is the identical multiset
    val again = Sampling.sourceMix(spark, sf())
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    out.unpersist()
  }

  test("q116: batches are bucket-homogeneous, bounded pad, full except tail") {
    val out = CorpusStats.lengthBatches(spark, sf()).cache()
    // same batch ⇒ same 32-token length bucket ⇒ pad < 32
    assert(out.where(col("pad") < 0 || col("pad") >= 32).count() == 0)
    assert(out.where(expr("n_tokens DIV 32") =!= col("bucket")).count() == 0)
    val sizes = out.groupBy("bucket", "batch_no").count()
    assert(sizes.where(col("count") > 16).count() == 0)
    // the two-level rank is dense: at most one non-full (tail) batch
    // per bucket — a gap or duplicate rank would split batches
    assert(sizes.where(col("count") < 16).groupBy("bucket").count()
      .where(col("count") > 1).count() == 0)
    out.unpersist()
  }

  test("q112: packing is a contiguous gap-free layout of the token stream") {
    val out = CorpusStats.sequencePack(spark, sf()).cache()
    val total = spark.read.parquet(s"${sf()}/documents.parquet")
      .agg(sum(size(split(trim(col("text")), "\\s+")))).head().getLong(0)
    // token conservation, then contiguity: sorted by offset, every
    // doc starts exactly where the previous one ended — the property
    // the two-level distributed prefix sum must not break
    val rows = out
      .select("start_off", "n_tokens", "seq_first", "seq_last", "n_seqs")
      .collect().sortBy(_.getLong(0))
    var off = 0L
    rows.foreach { r =>
      assert(r.getLong(0) == off, s"gap/overlap at offset ${r.getLong(0)}")
      off += r.getLong(1)
      assert(r.getLong(2) == r.getLong(0) / 512)
      assert(r.getLong(3) == (r.getLong(0) + r.getLong(1) - 1) / 512)
      assert(r.getLong(4) == r.getLong(3) - r.getLong(2) + 1)
    }
    assert(off == total)
    out.unpersist()
  }

  test("q146: positions are a permutation; seeds reproduce and differ") {
    val p42 = Sampling.seededShuffle(spark, sf(), "42").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("position")).toMap
    val n = p42.size
    // a permutation of 1..N — no gaps, no collisions
    assert(p42.values.toSet == (1L to n).toSet)
    // same seed → byte-identical order (the epoch-replay contract)
    val again = Sampling.seededShuffle(spark, sf(), "42").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("position")).toMap
    assert(again == p42, "same seed must reproduce the epoch order")
    // different seed → an (almost surely) different permutation,
    // still valid — the independent next-epoch order
    val p43 = Sampling.seededShuffle(spark, sf(), "43").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("position")).toMap
    assert(p43.keySet == p42.keySet)
    assert(p43.values.toSet == (1L to n).toSet)
    assert(p43 != p42, "seed 43 must give a different epoch order")
  }

  test("q147: the kept set is a quality-prefix and exactly fills the budget") {
    val rows = Sampling.tokenBudget(spark, sf(), budget = 10000L).collect()
    val byQuality = rows.sortBy(r =>
      (-r.getAs[Double]("quality"), r.getAs[Long]("doc_id")))
    // cum_tokens replays the running sum in quality order exactly
    var run = 0L
    byQuality.foreach { r =>
      run += r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("cum_tokens") == run,
        s"doc ${r.getAs[Long]("doc_id")}: cum ${r.getAs[Long]("cum_tokens")} != $run")
      assert(r.getAs[Boolean]("kept") ==
        (r.getAs[Long]("cum_tokens") - r.getAs[Long]("n_tokens") < 10000L))
    }
    // kept is a PREFIX of the quality order (no hole: a kept doc
    // never follows a dropped one), and the cut straddles the budget
    val keptFlags = byQuality.map(_.getAs[Boolean]("kept"))
    assert(!keptFlags.dropWhile(identity).contains(true),
      "kept set must be a contiguous quality-prefix")
    val keptTokens = byQuality.takeWhile(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("n_tokens")).sum
    val lastKept = byQuality.takeWhile(_.getAs[Boolean]("kept")).last
    assert(keptTokens >= 10000L || keptFlags.forall(identity),
      "budget must be filled unless the corpus runs out")
    assert(keptTokens - lastKept.getAs[Long]("n_tokens") < 10000L,
      "dropping the straddling doc must dip under budget")
  }

  test("q113: scrub drops exactly the shared chunks, reassembly is exact") {
    val out = CorpusStats.sharedSpanScrub(spark, sf()).cache()
    // consistency with the q106 scorer: dropped == shared, per doc
    val scored = CorpusStats.cdcChunks(spark, sf())
      .select(col("doc_id"), col("n_shared"))
    assert(out.join(scored, "doc_id")
      .where(col("n_dropped") =!= col("n_shared")).count() == 0)
    // the cleaned text really contains n_tokens_kept tokens
    assert(out.where(col("n_tokens_kept") > 0)
      .where(size(split(trim(col("cleaned_text")), "\\s+"))
        =!= col("n_tokens_kept")).count() == 0)
    assert(out.where(col("n_tokens_kept") === 0)
      .where(col("cleaned_text") =!= "").count() == 0)
    // verbatim-duplicated docs: every chunk is shared → nothing survives
    val tmp = SparkSpec.tempDir("scrub_dup").toString
    // ordered before limit: an un-ordered LIMIT is evaluated once per
    // union branch and need not pick the same 5 docs
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .orderBy("doc_id").limit(5)
    docs.union(docs.withColumn("doc_id", col("doc_id") + lit(1000000L)))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val dup = CorpusStats.sharedSpanScrub(spark, tmp)
    assert(dup.count() == 10)
    assert(dup.where(col("n_tokens_kept") =!= 0L ||
      col("cleaned_text") =!= "").count() == 0)
    out.unpersist()
  }

  test("q160: sqrt-weighted allocation — exact isqrt, exact total, fair") {
    val m = Sampling.temperatureMix(spark, sf()).collect()
    // the corrected isqrt is EXACT: w² ≤ n < (w+1)²
    m.foreach { r =>
      val (n, w) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("w"))
      assert(w * w <= n && n < (w + 1) * (w + 1), s"isqrt off: $r")
    }
    // Hamilton: the budget is hit exactly, and every source sits
    // within one seat of its exact sqrt-proportional quota
    assert(m.map(_.getAs[Long]("alloc")).sum == Sampling.MixTarget)
    val sw = m.map(_.getAs[Long]("w")).sum
    m.foreach { r =>
      val (w, a) = (r.getAs[Long]("w"), r.getAs[Long]("alloc"))
      val base = Sampling.MixTarget * w / sw
      assert(a == base || a == base + 1, s"off-quota: $r")
    }
    // the temperature property: relative to proportional mixing, a
    // MUCH smaller source gets more slots per token. Only asserted
    // across a ≥2× size gap — for near-equal sources the ±1 integer
    // sqrt granularity can locally invert the per-token rate (seen on
    // testdata: n 1441 → w 37 vs n 1466 → w 38), which is exactly why
    // the contract is about correcting ORDER-OF-MAGNITUDE imbalance
    val sorted = m.sortBy(_.getAs[Long]("n_tokens"))
    for {
      small <- sorted.headOption
      big <- sorted.lastOption
      if big.getAs[Long]("n_tokens") >= 2 * small.getAs[Long]("n_tokens")
    } {
      val lhs = (small.getAs[Long]("alloc") + 1) *
        big.getAs[Long]("n_tokens")
      val rhs = (big.getAs[Long]("alloc") - 1) *
        small.getAs[Long]("n_tokens")
      assert(lhs >= rhs, s"small source under-weighted: $small vs $big")
    }
    // and on a hand-built skewed corpus the property is strict: a
    // 100× token imbalance must yield a >5× per-token upweight
    import spark.implicits._
    val d = SparkSpec.tempDir("tempmix_docs").toString
    def text(n: Int) = Seq.fill(n)("x").mkString(" ")
    (Seq.tabulate(100)(i => (i.toLong, text(100), "huge")) :+
      (1000L, text(100), "tiny"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val mm = Sampling.temperatureMix(spark, d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val (h, t) = (mm("huge"), mm("tiny"))
    assert(h.getAs[Long]("n_tokens") == 100L * t.getAs[Long]("n_tokens"))
    // per-token rate ratio ≈ √100 = 10; assert the conservative half
    assert(t.getAs[Long]("alloc") * h.getAs[Long]("n_tokens") >
      5L * h.getAs[Long]("alloc") * t.getAs[Long]("n_tokens"),
      s"tiny source not upweighted: $t vs $h")
  }

  test("q158: shards partition the corpus into contiguous balanced ranges") {
    val m = CorpusStats.shardManifest(spark, sf()).collect()
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val nDocs = docs.count()
    val total = docs
      .agg(sum(size(split(trim(col("text")), "\\s+")))).head().getLong(0)
    // conservation: every doc and every token lands in exactly one shard
    assert(m.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(m.map(_.getAs[Long]("n_tokens")).sum == total)
    // contiguity: shard i ends exactly where shard i+1 begins
    val sorted = m.sortBy(_.getAs[Long]("shard_id"))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("end_off") == b.getAs[Long]("first_off"),
          s"gap between shards ${a.getLong(0)} and ${b.getLong(0)}")
      case _ =>
    }
    assert(sorted.head.getAs[Long]("first_off") == 0L)
    assert(sorted.last.getAs[Long]("end_off") == total)
    // balance: a shard overshoots total/N by at most one document
    val maxDoc = docs
      .agg(max(size(split(trim(col("text")), "\\s+")))).head().getInt(0)
    val target = total / CorpusStats.NShards
    sorted.foreach { r =>
      assert(r.getAs[Long]("n_tokens") <= target + maxDoc,
        s"shard ${r.getLong(0)} unbalanced: ${r.getAs[Long]("n_tokens")}")
    }
  }

  test("q202 priority sample: exact k, ordered, estimator witness holds") {
    val rows = Sampling.prioritySample(spark, sf()).collect()
    assert(rows.length == Sampling.PrioK, s"got ${rows.length} rows")
    assert(rows.map(_.getAs[Int]("rank")).toSeq ==
      (1 to Sampling.PrioK))
    val pris = rows.map(_.getAs[Double]("priority")).toSeq
    assert(pris.zip(pris.tail).forall { case (a, b) => a >= b },
      "priorities not non-increasing under rank order")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"),
        s"estimator left the pinned bound: $r")
      assert(r.getAs[Long]("n_tokens") >= 1)
    }
    // Horvitz–Thompson sanity: the estimate can never fall below the
    // exact token mass of the sample itself
    val est = rows.head.getAs[Double]("est_total_tokens")
    assert(est >= rows.map(_.getAs[Long]("n_tokens")).sum.toDouble - 1e-9)
  }

  test("q216: ids are the contiguous 1..n rank of doc_id") {
    val rows = Sampling.stableIds(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = spark.read.parquet(s"${sf()}/documents.parquet").count()
    assert(rows.length.toLong == n)
    assert(rows.map(_._2).toSeq == (1L to n).toSeq) // contiguous, 1-based
    val sorted = rows.sortBy(_._1)
    assert(sorted.map(_._2).toSeq == (1L to n).toSeq,
      "uid order must be doc_id order")
  }

  test("q216: numbering is partition-count invariant") {
    // boundaries move when numParts changes; the assigned ids must not
    val a = Sampling.stableIds(spark, sf(), numParts = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Sampling.stableIds(spark, sf(), numParts = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }
  test("q310 witness-free variant: same estimates, no audit scan") {
    val wit = Sampling.sampleQuantiles(spark, sf()).collect()
      .map(r => r.getAs[Long]("q") -> r.getAs[Double]("est")).toMap
    val free = Sampling.sampleQuantiles(spark, sf(), withWitness = false)
    val cols = free.columns.toSet
    assert(cols == Set("q", "est", "sample_k"))
    val rows = free.collect()
    assert(rows.length == wit.size)
    rows.foreach { r =>
      assert(r.getAs[Double]("est") == wit(r.getAs[Long]("q")))
    }
  }

}
