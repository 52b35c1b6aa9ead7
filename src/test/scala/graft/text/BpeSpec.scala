package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("BPE learns the classic merge sequence deterministically") {
    // the Sennrich example vocabulary: low×5, lower×2, newest×6,
    // widest×3 (no end-of-word marker) — first merges hand-derivable:
    // (e,s) ties (s,t) at 9 → lexicographic; then (es,t)=9; then
    // (l,o) ties (o,w) at 7 → lexicographic; then (lo,w)=7
    val tmp = SparkSpec.tempDir("bpe").toString
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Seq((1L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val merges = Bpe.learnBpe(spark, tmp, nMerges = 4)
    assert(merges.map(m => (m.left, m.right)) ==
      Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    assert(merges.map(_.rank) == Seq(0, 1, 2, 3))
    val enc = Bpe.encode(spark, tmp, merges).head()
    // compression sits strictly between the char and word baselines
    assert(enc.getAs[Long]("n_bpe_tokens") < enc.getAs[Long]("n_chars"))
    assert(enc.getAs[Long]("n_bpe_tokens") > enc.getAs[Long]("n_words"))
  }

  test("column-fold merge application == imperative applyMerge, incl. overlap chains") {
    // the fold's correctness hangs on "a fused token never re-fuses
    // this round"; overlap chains (aaaa with (a,a)) are where a wrong
    // fold diverges from the left-to-right i+=2 semantics
    val rnd = new scala.util.Random(11)
    val alphabet = Vector("a", "b", "ab", "aa", "ba")
    val cases = Seq(
      (Seq("a", "a", "a"), "a", "a"),
      (Seq("a", "a", "a", "a"), "a", "a"),
      (Seq("a", "b", "a", "b"), "a", "b"),
      (Seq("ab", "ab", "ab", "ab"), "ab", "ab"),
      (Seq("aa", "a", "a"), "aa", "a"),
      (Seq.empty[String], "a", "b"),
      (Seq("x"), "a", "b")
    ) ++ (1 to 60).map { _ =>
      val syms = Seq.fill(rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.size)))
      (syms, alphabet(rnd.nextInt(alphabet.size)),
        alphabet(rnd.nextInt(alphabet.size)))
    }
    for ((syms, l, r) <- cases) {
      val got = Seq(Tuple1(syms)).toDF("syms")
        .select(Bpe.applyMergeCol(col("syms"), l, r).as("m"))
        .head().getAs[scala.collection.Seq[String]]("m")
      assert(got.toSeq == Bpe.applyMerge(syms, l, r),
        s"fold diverged on syms=$syms merge=($l,$r)")
    }
  }

  test("merge-application round plans a plain Project — no encoder ser/de") {
    val df = Seq((Seq("l", "o", "w"), 5L)).toDF("syms", "freq")
      .select(Bpe.applyMergeCol(col("syms"), "l", "o").as("syms"),
        col("freq"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("DeserializeToObject") &&
      !plan.contains("SerializeFromObject"),
      "training round left column space:\n" + plan)
  }

  test("BPE on the testdata corpus: 16 merges, deterministic encode") {
    val merges = Bpe.learnBpe(spark, sf(), nMerges = 16)
    assert(merges.length == 16)
    // retrain reproduces the identical merge table (pure function of
    // the corpus — the property rand-seeded trainers lack)
    assert(Bpe.learnBpe(spark, sf(), nMerges = 16) == merges)
    val enc = Bpe.encode(spark, sf(), merges)
    val agg = enc.agg(sum("n_bpe_tokens"), sum("n_chars"), sum("n_words"))
      .head()
    assert(agg.getLong(0) < agg.getLong(1), "BPE must beat chars")
    assert(agg.getLong(0) >= agg.getLong(2), "BPE can't beat words")
  }

  test("q169 frozen-vocab encode: per-doc bounds and null-text rows survive") {
    val rows = Bpe.encodeFrozen(spark, sf()).collect()
    // every document present, including null/empty text (0,0,0 rows)
    assert(rows.length ==
      graft.Tables.load(spark, sf(), "documents").count())
    rows.foreach { r =>
      val (w, c, t) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_bpe_tokens"))
      // each word is ≥1 token; merges only ever shrink symbol counts
      assert(w >= 0 && t >= w && t <= c, s"inconsistent row: $r")
    }
  }
}
