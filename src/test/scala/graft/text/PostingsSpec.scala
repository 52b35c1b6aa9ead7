package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Tokens

/** Ground truth for the prefix-filtered exact set-similarity join and
  * the sharded inverted index. */
class PostingsSpec extends SparkSpec {

  test("q311: fused scores replay exactly from the two systems' ranks") {
    val dir = sf("0.01")
    val fused = Postings.rrfFusion(spark, dir).collect()
    assert(fused.length == Postings.RrfTop)
    assert(fused.map(_.getAs[Long]("doc_id")).distinct.length ==
      fused.length)
    // integer RRF replay: score must be rebuildable from the ranks
    def rec(r: Long): Long =
      if (r > 0) Postings.RrfScale / (Postings.RrfK + r) else 0L
    fused.foreach { row =>
      val (rl, rp) = (row.getAs[Long]("r_lex"), row.getAs[Long]("r_plain"))
      assert(rl != -1L || rp != -1L) // member of at least one top-C
      assert(rl <= Postings.RrfC && rp <= Postings.RrfC)
      assert(row.getAs[Long]("score_rrf") == rec(rl) + rec(rp))
    }
    // output is the (score desc, doc_id) total order
    val keys = fused.map(r =>
      (-r.getAs[Long]("score_rrf"), r.getAs[Long]("doc_id"))).toSeq
    assert(keys == keys.sorted)
    // the lexical ranks embedded in the fusion are q283's own ranking
    val lexTop = Postings.bm25TopK(spark, dir).collect()
      .map(_.getAs[Long]("doc_id")).toSeq
    fused.filter(r => r.getAs[Long]("r_lex") != -1L &&
      r.getAs[Long]("r_lex") <= Postings.Bm25K).foreach { row =>
      assert(lexTop(row.getAs[Long]("r_lex").toInt - 1) ==
        row.getAs[Long]("doc_id"))
    }
  }

  test("q117 setsim join equals brute force (lossless prefix filter)") {
    // brute force: all pairs, exact jaccard — the quadratic spelling
    // the prefix filter must reproduce exactly
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), Tokens.whitespace(col("text")).as("w"))
      .select(col("doc_id"),
        array_distinct(Tokens.ngramsOf(col("w"), 5)).as("sh"))
    val brute = docs.as("x").crossJoin(docs.as("y"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        size(array_intersect(col("x.sh"), col("y.sh"))).cast("long")
          .as("inter"),
        size(col("x.sh")).cast("long").as("sz_a"),
        size(col("y.sh")).cast("long").as("sz_b"))
      .where(col("inter") * 5 >=
        (col("sz_a") + col("sz_b") - col("inter")) * 3)
      .select(col("a"), col("b"), col("inter"), col("sz_a"), col("sz_b"))
      .collect().map(_.toSeq).toSet

    val got = Postings.setSimJoin(spark, sf())
      .select(col("a"), col("b"), col("inter"), col("sz_a"), col("sz_b"))
      .collect().map(_.toSeq).toSet

    assert(got == brute)
    assert(got.nonEmpty, "sf0.001 corpus should contain near-dup pairs")
  }

  test("q117/q121 read the shingle zone — zero corpus re-scans") {
    // the shingle relation is stored ONCE to a parquet scratch zone;
    // every downstream branch (postings, df, both prefix sides, both
    // verify sides) must scan the zone, never re-shingle the corpus
    for (df <- Seq(Postings.setSimJoin(spark, sf()),
                   Postings.containmentJoin(spark, sf()))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        "a branch re-scanned the corpus instead of the zone:\n" + plan)
      // the full zone path truncates in plan display — match the
      // scratch root marker, not the leaf name
      assert(plan.contains("graft-scratch-"),
        "expected scans of the shingle scratch zone:\n" + plan)
    }
  }

  test("q117 identical docs join at jaccard 1.0; disjoint docs never") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // clone of 1
      (3L, "one two three four five six seven"),   // disjoint
      (4L, "alpha beta gamma delta epsilon eta")   // near-dup of 1
    ).toDF("doc_id", "text")
    val dir = SparkSpec.tempDir("setsim").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Postings.setSimJoin(spark, dir)
      .select("a", "b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows((1L, 2L)) == 1.0)
    assert(!rows.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("q121 containment equals brute force; sees what Jaccard cannot") {
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), Tokens.whitespace(col("text")).as("w"))
      .select(col("doc_id"),
        array_distinct(Tokens.ngramsOf(col("w"), 5)).as("sh"))
    val brute = docs.as("x").crossJoin(docs.as("y"))
      .where(col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        size(array_intersect(col("x.sh"), col("y.sh"))).cast("long")
          .as("inter"),
        size(col("x.sh")).cast("long").as("sz_a"))
      .where(col("inter") * 5 >= col("sz_a") * 4)
      .select(col("a"), col("b")).collect().map(_.toSeq).toSet
    val got = Postings.containmentJoin(spark, sf())
      .select(col("a"), col("b")).collect().map(_.toSeq).toSet
    assert(got == brute)

    // the motivating asymmetry: a 6-token quote inside a 40-token page
    // has containment 1.0 (quote → page) but Jaccard far below τ
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val page = s"intro words here $quote " +
      (1 to 30).map(i => s"filler$i").mkString(" ")
    val dir = SparkSpec.tempDir("containment").toString
    Seq((1L, quote), (2L, page)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val c = Postings.containmentJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Double]("containment")).toMap
    assert(c((1L, 2L)) == 1.0, "quote is fully contained in the page")
    assert(!c.contains((2L, 1L)), "page is not contained in the quote")
    val j = Postings.setSimJoin(spark, dir).collect()
    assert(j.isEmpty, "Jaccard at tau=3/5 misses the quote/page pair")
  }

  test("q123 keyword search: integer scoring and tie-break semantics") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("kwsearch").toString
    // 4 docs; terms: "spark" df=2, "data" df=4 (idf weight N DIV df:
    // spark -> 2, data -> 1)
    Seq(
      (1L, "spark spark data"),   // 2*2 + 1*1 = 5
      (2L, "data data data"),     // 3*1 = 3
      (3L, "spark data x y"),     // 2 + 1 = 3  (ties doc 2, id wins)
      (4L, "data z")              // 1
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Postings.keywordSearch(spark, dir,
        terms = Seq("spark", "data"), k = 3)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 5L), (2L, 3L), (3L, 3L)),
      s"expected rare-term weighting and doc_id tie-break, got $got")
  }

  test("tfRelation blocks use FLOOR division (negative doc ids route stably)") {
    import spark.implicits._
    // Spark's DIV truncates toward zero; DuckDB's // floors. The blk
    // spelling must floor on both engines or a negative doc_id lands
    // in different blocks per engine AND in a different block than
    // IndexMaintain would touch.
    val docs = Seq((-150L, "x"), (-100L, "x"), (-1L, "x"), (0L, "x"),
      (99L, "x"), (100L, "x")).toDF("doc_id", "text")
    val blk = Postings.tfRelation(docs, blockSize = 100)
      .select("doc_id", "blk").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(blk == Map(-150L -> -2L, -100L -> -1L, -1L -> -1L,
      0L -> 0L, 99L -> 0L, 100L -> 1L), s"got $blk")
  }

  test("q118 inverted index: df/cf consistent with its own postings") {
    val idx = Postings.invertedIndex(spark, sf()).collect()
    assert(idx.nonEmpty)
    idx.foreach { r =>
      val df = r.getAs[Long]("df")
      val cf = r.getAs[Long]("cf")
      val postings = r.getAs[String]("postings").split(",").map(_.toLong)
      val tfs = r.getAs[String]("tfs").split(",").map(_.toLong)
      assert(postings.length == df)
      assert(tfs.sum == cf)
      // doc-sorted and unique within the block
      assert(postings.sameElements(postings.distinct.sorted))
      // block invariant: every posting falls inside this block's range
      val blk = r.getAs[Long]("blk")
      assert(postings.forall(d => d / 100 == blk))
    }
  }

  test("q152 phrase search: exact positions, overlaps counted, case folded") {
    import spark.implicits._
    val d = SparkSpec.tempDir("phrase_docs").toString
    Seq(
      (0L, "alpha beta gamma alpha beta", "a"), // matches at 0 and 3
      (1L, "beta alpha nothing here", "a"), // reversed — no match
      (2L, "ALPHA BETA shouting", "a"), // lower() folds — match at 0
      (3L, "alpha alpha alpha", "a"), // self-overlap fixture
      (4L, "alpha", "a") // shorter than the phrase
    ).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val ab = Postings.phraseSearch(spark, d, Seq("alpha", "beta"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_matches"), r.getAs[String]("positions"))).toMap
    assert(ab == Map(0L -> ((2L, "0,3")), 2L -> ((1L, "0"))))

    // overlapping matches all count: "alpha alpha alpha" has
    // "alpha alpha" at 0 AND 1
    val aa = Postings.phraseSearch(spark, d, Seq("alpha", "alpha"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("positions")).toMap
    assert(aa == Map(3L -> "0,1"))
  }
  test("q280: textrank ranks carry the damping base floor and the " +
    "band excludes singletons") {
    val r = Postings.textrankTerms(spark, sf()).collect()
    assert(r.nonEmpty)
    // every rank >= the teleport base (mass is never negative)
    assert(r.forall(_.getAs[Long]("rank_fp") >= Postings.TrBase))
    // vertex contract: no singleton term may appear
    import spark.implicits._
    val df = graft.Tables.load(spark, sf(), "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array_distinct(
          graft.util.Tokens.whitespace(
            org.apache.spark.sql.functions.lower(
              org.apache.spark.sql.functions.col("text"))))).as("t"))
      .groupBy("t").count()
      .where(org.apache.spark.sql.functions.col("count") === 1)
      .select("t").as[String].collect().toSet
    assert(r.map(_.getAs[String]("term")).toSet.intersect(df).isEmpty)
  }

  test("q273: hub scores stay within the shift-normalization budget") {
    val r = Postings.hitsHubs(spark, sf()).collect()
    assert(r.nonEmpty)
    val hs = r.map(_.getAs[Long]("hub_fp"))
    assert(hs.forall(_ >= 0L))
    // after the final right-shift the max fits HitsBits bits
    assert(hs.max < (1L << Postings.HitsBits),
      s"max hub ${hs.max} exceeds 2^${Postings.HitsBits}")
  }
}
