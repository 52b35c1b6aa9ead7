package graft.examples

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Runnable end-to-end training-data curation pipeline — the library
  * consumed the way a corpus team would chain it:
  *
  *   raw documents → language filter → quality floor → repetition
  *   ceiling → cross-doc boilerplate floor → near-dup survivor
  *   selection → curated zone + curation report, then the release
  *   side: leakage-safe split of the curated set and a stratified
  *   proportional sample of its train partition.
  *
  * Every stage is one of the named, oracle-checked operators; this
  * main only sequences them and writes the curated corpus. (The
  * q141 decontamination gate is reported as an audit count — its
  * train basis is the q102 doc-id split by contract, deliberately
  * not re-based on the cluster split shown here.)
  *
  * Usage: runMain graft.examples.CurateDemo [sfDir] [outDir]
  */
object CurateDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption.getOrElse(
      Files.createTempDirectory("graft_curated").toString)
    val spark = graft.util.Sessions.build(sfDir)

    val docs = Tables.load(spark, sfDir, "documents")
    val total = docs.count()

    // 1. language gate (keep english) + quality floor
    val lang = TextAnalysis.langId(spark, sfDir).where(col("lang_pred") === "en")
    val quality = TextAnalysis.qualityScore(spark, sfDir)
      .where(col("quality") >= 0.3)
    // 2. repetition ceiling (degenerate-text filter)
    val lowRep = TextAnalysis.repetition(spark, sfDir)
      .where(col("dup_2gram_ratio") <= 0.5)
    // 3. exact + near-dup survivors (connected components, min doc_id)
    val survivors = Dedup.dedupClusters(spark, sfDir).where(col("keep"))
    // 4. blocklist scrub (bloom-probed, no corpus join) + the linear
    //    quality classifier floor
    val unblocked = graft.ops.Blocklist.bloomScrub(spark, sfDir)
      .where(col("keep"))
    val linearOk = graft.text.CorpusStats.linearQuality(spark, sfDir)
      .where(col("keep"))

    try {
      // per-doc gates + dedup survivorship FIRST, staged as a
      // documents table so the boilerplate filter runs on it
      val staged = docs
        .join(lang.select("doc_id"), "doc_id")
        .join(quality.select("doc_id"), "doc_id")
        .join(lowRep.select("doc_id"), "doc_id")
        .join(survivors.select("doc_id"), "doc_id")
        .join(unblocked.select("doc_id"), "doc_id")
        .join(linearOk.select("doc_id"), "doc_id")
      staged.write.mode("overwrite").parquet(s"$out/stage1/documents.parquet")

      // 5. cross-doc boilerplate floor (duplicated 5-gram fraction),
      //    computed ON THE DEDUPED SET — the production ordering. On
      //    a clone-heavy corpus (the sf1 stress: every doc ×10) the
      //    raw-corpus spelling marks EVERY 5-gram duplicated and
      //    rejects the whole corpus; after survivor selection the
      //    duplicated-gram signal measures organic boilerplate again
      //    (template headers/footers), which is what the filter is
      //    for. Ordering lesson recorded in PLANS.md round 11.
      val lowBoiler = graft.text.CorpusStats
        .dupGramFraction(spark, s"$out/stage1")
        .where(col("dup_fraction") < 0.5)
      val curated = spark.read.parquet(s"$out/stage1/documents.parquet")
        .join(lowBoiler.select("doc_id"), "doc_id")
      // written as a documents TABLE (documents.parquet) so the
      // corpus-table operators below run ON the curated zone
      curated.write.mode("overwrite").parquet(s"$out/documents.parquet")

      val kept = spark.read.parquet(s"$out/documents.parquet").count()
      require(kept > 0 && kept <= total,
        s"curation must keep a nonempty subset (kept $kept of $total)")
      // safe only after the nonempty check: sum over zero rows is null
      val toks = TextAnalysis.tokenStats(spark, sfDir)
        .join(spark.read.parquet(s"$out/documents.parquet")
          .select("doc_id"), "doc_id")
        .agg(sum(col("n_tokens"))).head().getLong(0)
      println(s"curated: kept $kept/$total docs, $toks tokens -> " +
        s"$out/documents.parquet")

      // release side — over the CURATED set, actually composed:
      // leakage-safe split (cluster-hash; a near-dup component never
      // straddles), then a stratified 10% sample of the train docs
      val curatedDocs = spark.read.parquet(s"$out/documents.parquet")
      val split = Dedup.leakageSafeSplit(spark, sfDir)
        .join(curatedDocs.select("doc_id"), "doc_id")
      split.groupBy("split").count().orderBy("split").show()
      val trainDocs = curatedDocs
        .join(split.where(col("split") === "train").select("doc_id"),
          "doc_id")
      val sample = graft.ops.Sampling.stratifiedSample(trainDocs,
        target = math.max(1, (kept / 10).toInt))
      println(s"stratified train sample: ${sample.count()} docs")
      // decontamination audit (q102 doc-id train basis by contract)
      val decon = TextAnalysis.decontaminate(spark, sfDir)
      println(s"decontamination audit: ${decon.where(!col("kept")).count()}" +
        " train docs carry eval 5-grams")

      // export side, ON the curated zone: token-balanced shard
      // manifest + the length-quantile scorecard panel
      val manifest = graft.text.CorpusStats.shardManifest(spark, out)
      val shardToks = manifest.agg(sum(col("n_tokens"))).head().getLong(0)
      require(shardToks == toks,
        s"shard manifest must conserve the curated tokens " +
          s"($shardToks vs $toks)")
      println(s"export: ${manifest.count()} token-balanced shards, " +
        s"$shardToks tokens")
      graft.text.CorpusStats.lengthQuantiles(spark, out)
        .show(5, truncate = false)

      // observability epilogue — the round-12 report operators, run
      // the way an operator on call would read them:
      // how much of the RAW corpus was clones, and in what shapes
      println("dedup report (raw corpus):")
      Dedup.clusterHistogram(spark, sfDir).show(5, truncate = false)
      // distinct-shingle cardinality of the CURATED zone, sketch vs
      // exact witness (the dashboard number that stays affordable
      // when the exact count no longer is)
      println("curated-zone distinct shingles (KMV sketch vs exact):")
      graft.text.Sketches.kmvDistinct(spark, out)
        .select("source", "n_exact", "est_distinct", "within_bound")
        .show(5, truncate = false)
      // classifier calibration: the threshold an operator would pick
      // (max F1 over the q181 sweep)
      val roc = graft.ops.Quality.qualityRoc(spark, sfDir).collect()
      val best = roc.maxBy { r =>
        val p = r.getAs[Double]("prec"); val rc = r.getAs[Double]("rec")
        if (p.isNaN || p + rc == 0) -1.0 else 2 * p * rc / (p + rc)
      }
      println(s"q154 calibration: best-F1 threshold bin " +
        s"${best.getAs[Long]("thr_bin")} " +
        s"(prec ${best.getAs[Double]("prec")}, " +
        s"rec ${best.getAs[Double]("rec")})")
    } finally spark.stop()
  }
}
