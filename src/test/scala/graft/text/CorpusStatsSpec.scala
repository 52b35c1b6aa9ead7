package graft.text

import graft.SparkSpec

/** Semantics of the q149 repetition filter on hand-computable
  * fixtures: every asserted fraction is derived by hand from the
  * fixture text, and the three Gopher-rule thresholds are exercised on
  * both sides (a degenerate doc that trips all three, a diverse doc
  * that trips none, and a phrase-loop doc that sits EXACTLY on the
  * top-token threshold — equality must not flag — while tripping the
  * bigram and trigram rules). */
class CorpusStatsSpec extends SparkSpec {

  private lazy val dir: String = {
    import spark.implicits._
    val d = SparkSpec.tempDir("repetition_docs").toString
    Seq(
      (0L, Seq.fill(50)("spam").mkString(" "), "a"), // degenerate
      (1L, (0 until 50).map(i => s"w$i").mkString(" "), "a"), // diverse
      (2L, Seq.fill(10)("a b c d e").mkString(" "), "a") // phrase loop
    ).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q149: degenerate repetition flags; diverse text passes") {
    val rows = CorpusStats.repetitionFilter(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.size == 3)

    // doc 0: one token x50 → every fraction exactly 1.0
    val d0 = rows(0L)
    assert(d0.getAs[Long]("n_tokens") == 50L)
    assert(d0.getAs[Double]("top_token_frac") == 1.0)
    assert(d0.getAs[Double]("top_bigram_frac") == 1.0)
    assert(d0.getAs[Double]("dup_trigram_frac") == 1.0)
    assert(d0.getAs[Boolean]("flagged"))

    // doc 1: 50 distinct tokens → all bigrams/trigrams distinct
    val d1 = rows(1L)
    assert(d1.getAs[Double]("top_token_frac") == 1.0 / 50)
    assert(d1.getAs[Double]("top_bigram_frac") == 1.0 / 49)
    assert(d1.getAs[Long]("dup_trigram_count") == 0L)
    assert(!d1.getAs[Boolean]("flagged"))

    // doc 2: "a b c d e" x10 — each token 10/50 = 0.2 EXACTLY (the
    // > 0.2 rule must not fire on equality); bigram "a b" 10 of 49
    // (> 0.18 fires); all 48 trigrams repeat (1.0 fires)
    val d2 = rows(2L)
    assert(d2.getAs[Double]("top_token_frac") == 0.2)
    assert(d2.getAs[Double]("top_bigram_frac") == 10.0 / 49)
    assert(d2.getAs[Double]("dup_trigram_frac") == 1.0)
    assert(d2.getAs[Boolean]("flagged"))
  }

  test("q151: integer surprisal — hand-computed bits, tails ordered") {
    // T = 150 tokens → bits(150) = 8. Counts: spam 50 → bits 6;
    // each w_i 1 → bits 1; each of a..e 10 → bits 4. Per-token
    // surprisal: doc0 = 2, doc1 = 7, doc2 = 4 — integer-exact, and
    // the repetitive doc scores LOWEST (the boilerplate tail) while
    // the all-distinct doc scores highest (the rare-vocab tail).
    val rows = CorpusStats.surprisalFilter(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(0L).getAs[Long]("sum_bits") == 100L)
    assert(rows(0L).getAs[Double]("mean_bits") == 2.0)
    assert(rows(1L).getAs[Long]("sum_bits") == 350L)
    assert(rows(1L).getAs[Double]("mean_bits") == 7.0)
    assert(rows(2L).getAs[Long]("sum_bits") == 200L)
    assert(rows(2L).getAs[Double]("mean_bits") == 4.0)
  }

  test("q162: integer-PMI collocations — hand-computed bits and order") {
    // corpus: T = 150 unigrams, T2 = 147 bigrams (bits 8 both).
    // candidates ≥ 5 support: "spam spam" 49, "a b".."d e" 10, "e a" 9.
    // pmi_bits = bits(cxy) + 2·8 − 8 − bits(cx) − bits(cy):
    //   phrase-loop bigrams: 4 + 16 − 8 − 4 − 4 = 4
    //   "spam spam":         6 + 16 − 8 − 6 − 6 = 2  (self-pair of a
    //     frequent token scores LOW — exactly what PMI is for)
    val rows = CorpusStats.pmiCollocations(spark, dir).collect()
    assert(rows.length == 6)
    val top = rows.take(5).map(r =>
      (r.getAs[String]("bigram"), r.getAs[Long]("pmi_bits")))
    assert(top.sameElements(Seq("a b", "b c", "c d", "d e", "e a")
      .map(b => (b, 4L))), top.mkString(","))
    val last = rows.last
    assert(last.getAs[String]("bigram") == "spam spam" &&
      last.getAs[Long]("pmi_bits") == 2L)
  }

  test("q159: exact rank-selection quantiles on hand-built lengths") {
    import spark.implicits._
    val d = SparkSpec.tempDir("quantile_docs").toString
    def text(n: Int) = Seq.fill(n)("x").mkString(" ")
    Seq(
      (0L, text(10), "s"), (1L, text(20), "s"),
      (2L, text(30), "s"), (3L, text(40), "s"),
      (4L, text(7), "t")
    ).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = CorpusStats.lengthQuantiles(spark, d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // source s, n=4: ceil positions 1/2/3/4 of (10,20,30,40)
    val s4 = rows("s")
    assert(s4.getAs[Long]("n_docs") == 4L)
    assert(s4.getAs[Long]("p25") == 10L && s4.getAs[Long]("p50") == 20L)
    assert(s4.getAs[Long]("p75") == 30L && s4.getAs[Long]("p95") == 40L)
    assert(s4.getAs[Long]("max_tokens") == 40L)
    // a single-doc source collapses every quantile onto that doc
    val t1 = rows("t")
    assert(Seq("p25", "p50", "p75", "p95", "max_tokens")
      .forall(c => t1.getAs[Long](c) == 7L))
  }

  test("q154: linear quality — weights replayed via an independent md5") {
    // Independent spelling of the hash-derived weight: JVM MessageDigest
    // instead of the Md5Prefix60 expression — the test would catch a
    // drifted hash contract on either side.
    def w(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001 - 1000
    }
    val rows = CorpusStats.linearQuality(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.size == 3)
    val exp = Map(
      0L -> 50 * w("spam"),
      1L -> (0 until 50).map(i => w(s"w$i")).sum,
      2L -> 10 * Seq("a", "b", "c", "d", "e").map(w).sum)
    exp.foreach { case (id, wsum) =>
      val r = rows(id)
      assert(r.getAs[Long]("n_tokens") == 50L)
      assert(r.getAs[Long]("w_sum") == wsum, s"doc $id")
      assert(r.getAs[Double]("mean_w") == wsum / 50.0)
      assert(r.getAs[Boolean]("keep") == (wsum >= 0))
    }
  }

  test("q205 ppl buckets: terciles balanced per source, ordered by score") {
    val rows = CorpusStats.pplBuckets(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val n = rs.length
      val sizes = rs.groupBy(_.getAs[String]("bucket"))
        .view.mapValues(_.length).toMap
      // exact tercile cut: |head| = ⌊n/3⌋, |head|+|middle| = ⌊2n/3⌋
      assert(sizes.getOrElse("head", 0) == n / 3, s"$src head $sizes")
      assert(sizes.getOrElse("head", 0) + sizes.getOrElse("middle", 0)
        == 2 * n / 3, s"$src middle $sizes")
      // bucket boundaries respect the score order
      val sorted = rs.sortBy(r =>
        (r.getAs[Double]("mean_bits"), r.getAs[Long]("doc_id")))
      val seq = sorted.map(_.getAs[String]("bucket")).toSeq
      val order = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
      assert(seq.map(order).zip(seq.tail.map(order))
        .forall { case (a, b) => a <= b },
        s"$src buckets out of score order: $seq")
    }
  }
  test("q313 dup-substring finder: constructed fixtures (within-doc " +
    "repeats, cross-doc maximality, nesting, window cap)") {
    import spark.implicits._
    val y = (0 until 40).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (1L, "a b c d e f g h i j"),                   // no duplication
      (2L, "x1 x2 x3 x4 x5 q1 q2 x1 x2 x3 x4 x5"),   // within-doc repeat
      (3L, "z1 z2 z3 z4 z5 z6 z7"),
      (4L, "w0 z1 z2 z3 z4 z5 z6 w7"),               // cross-doc share
      (5L, y), (6L, y)                               // window-cap clones
    ).toDF("doc_id", "text")
    val tmp = SparkSpec.tempDir("graft-dupsub-").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusStats.dupSubstrings(spark, tmp).collect()
      .map(r => (r.getAs[String]("sub"), r.getAs[Long]("tok_len"),
        r.getAs[Long]("n_starts"), r.getAs[Long]("n_docs")))
    val bySub = out.map(t => t._1 -> t).toMap
    // within-doc repeat IS duplication here (unlike q140's cross-doc
    // contract): the repeated 5-gram reports with both start positions
    assert(bySub("x1 x2 x3 x4 x5") == ("x1 x2 x3 x4 x5", 5L, 2L, 1L))
    // cross-doc share: maximal 6-token span, plus the nested 5-token
    // suffix whose OWN maximal match is shorter (different extension)
    assert(bySub("z1 z2 z3 z4 z5 z6") == ("z1 z2 z3 z4 z5 z6", 6L, 2L, 2L))
    assert(bySub("z2 z3 z4 z5 z6") == ("z2 z3 z4 z5 z6", 5L, 2L, 2L))
    // the 7-gram including z7/w7 is NOT duplicated — never reported
    assert(!out.exists(_._1.contains("z7")))
    assert(!out.exists(_._1.contains("w7")))
    // nothing from the unique doc
    assert(!out.exists(_._1.startsWith("a b")))
    // window cap: 40-token clones report at the 32-token ceiling
    assert(out.map(_._2).max == CorpusStats.DupSubWindow.toLong)
    val capped = (0 until 32).map(i => s"y$i").mkString(" ")
    assert(bySub(capped) == (capped, 32L, 2L, 2L))
    // every reported length within contract bounds
    assert(out.forall(t => t._2 >= CorpusStats.DupSubMinLen &&
      t._2 <= CorpusStats.DupSubWindow))
  }

  test("q313 equals an independent brute force over the sf0.001 corpus") {
    val ws = "[ \\t\\n\\x0B\\f\\r]+"
    val toks: Map[Long, Array[String]] =
      graft.Tables.load(spark, sf(), "documents")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1).trim.split(ws)).toMap
    val L = CorpusStats.DupSubMinLen; val W = CorpusStats.DupSubWindow
    // count every m-gram occurrence for m in [L, W]
    val counts = new scala.collection.mutable.HashMap[(Int, String), Int]
    for ((_, w) <- toks; m <- L to math.min(W, w.length);
         p <- 0 to w.length - m) {
      val g = (m, w.slice(p, p + m).mkString(" "))
      counts(g) = counts.getOrElse(g, 0) + 1
    }
    // per position: max duplicated m; aggregate the inventory
    val agg = new scala.collection.mutable.HashMap[(String, Int),
      (Long, scala.collection.mutable.Set[Long])]
    for ((d, w) <- toks; p <- 0 to w.length - L) {
      val mMax = (L to math.min(W, w.length - p))
        .filter(m => counts((m, w.slice(p, p + m).mkString(" "))) >= 2)
      if (mMax.nonEmpty) {
        val m = mMax.max
        val key = (w.slice(p, p + m).mkString(" "), m)
        val (n, ds) = agg.getOrElse(key,
          (0L, scala.collection.mutable.Set.empty[Long]))
        agg(key) = (n + 1, ds += d)
      }
    }
    val expect = agg.map { case ((sub, m), (n, ds)) =>
      (sub, m.toLong, n, ds.size.toLong) }.toSet
    val got = CorpusStats.dupSubstrings(spark, sf()).collect()
      .map(r => (r.getAs[String]("sub"), r.getAs[Long]("tok_len"),
        r.getAs[Long]("n_starts"), r.getAs[Long]("n_docs"))).toSet
    assert(got == expect,
      s"mismatch: ${(got diff expect).take(3)} vs ${(expect diff got).take(3)}")
    // and the output order is the contract's (len DESC, sub ASC)
    val ordered = CorpusStats.dupSubstrings(spark, sf()).collect()
      .map(r => (-r.getAs[Long]("tok_len"), r.getAs[String]("sub")))
    assert(ordered.sameElements(ordered.sorted))
  }

}
