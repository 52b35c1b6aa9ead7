package graft.text

import graft.SparkSpec
import graft.functions.KmvSketch

/** Sketch contracts beyond the hash gate: KMV set-function
  * determinism and mergeability (the properties that make the
  * output hash-gateable at ANY partitioning), estimate accuracy on
  * a synthetic uniform stream, and the witness bounds at spec SF. */
class SketchesSpec extends SparkSpec {

  private def fold(k: KmvSketch, xs: Seq[Long]): Array[Long] =
    xs.foldLeft(k.zero)(k.reduce)

  test("kmv buffer is the sorted k smallest distinct values") {
    val k = new KmvSketch(4)
    val out = fold(k, Seq(9L, 3L, 7L, 3L, 1L, 8L, 2L, 7L, 5L))
    assert(out.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("kmv is a set function: order and duplication never matter") {
    val k = new KmvSketch(8)
    val xs = Seq.tabulate(200)(i => (i * 2654435761L) % 1000)
    val a = fold(k, xs)
    val b = fold(k, scala.util.Random.shuffle(xs ++ xs))
    assert(a.toSeq == b.toSeq)
  }

  test("kmv merge of split partials equals the whole-stream sketch") {
    val k = new KmvSketch(16)
    val xs = Seq.tabulate(500)(i => (i * 0x9e3779b97f4aL) % 100000)
    val whole = fold(k, xs)
    val grouped = xs.grouped(37).map(g => fold(k, g))
    val merged = grouped.reduce(k.merge)
    assert(whole.toSeq == merged.toSeq)
    // merge must dedup values shared across partials
    val dup = k.merge(fold(k, xs.take(100)), fold(k, xs.take(100)))
    assert(dup.toSeq == fold(k, xs.take(100)).toSeq)
  }

  test("kmv under-full sketch holds the entire distinct set") {
    val k = new KmvSketch(64)
    val out = fold(k, Seq(5L, 1L, 5L, 9L))
    assert(out.toSeq == Seq(1L, 5L, 9L))
  }

  test("kmv estimate lands near truth on a uniform synthetic stream") {
    // 10k distinct "hashes" uniform on [0, 2^60): est = 63*2^60/h_64
    val n = 10000
    val range = 1L << 60
    val xs = Seq.tabulate(n) { i =>
      new java.math.BigInteger(
        1, java.security.MessageDigest.getInstance("MD5")
          .digest(s"v$i".getBytes)).shiftRight(68).longValueExact()
    }
    val k = new KmvSketch(64)
    val sk = fold(k, xs)
    val est = 63.0 * range.toDouble / sk.last.toDouble
    assert(math.abs(est - n) < 0.4 * n, s"est $est vs $n")
  }

  test("kmv jaccard estimator tracks truth on planted overlaps") {
    // two synthetic 2000-element sets with known 50% overlap, hashed
    // like the operator hashes shingles
    def hset(tag: String, n: Int): Seq[Long] = Seq.tabulate(n) { i =>
      new java.math.BigInteger(
        1, java.security.MessageDigest.getInstance("MD5")
          .digest(s"$tag$i".getBytes)).shiftRight(68).longValueExact()
    }
    val shared = hset("s", 1000)
    val a = shared ++ hset("a", 1000)
    val b = shared ++ hset("b", 1000)
    val k = new KmvSketch(64)
    val ska = a.foldLeft(k.zero)(k.reduce)
    val skb = b.foldLeft(k.zero)(k.reduce)
    val union = k.merge(ska, skb) // k smallest of A ∪ B
    val inBoth = union.count(v => ska.contains(v) && skb.contains(v))
    val est = inBoth.toDouble / union.length
    val truth = 1000.0 / 3000.0
    assert(math.abs(est - truth) <= 0.25, s"est $est vs $truth")
    // and the disjoint control estimates (near) zero
    val skc = hset("c", 2000).foldLeft(k.zero)(k.reduce)
    val u2 = k.merge(ska, skc)
    assert(u2.count(v => ska.contains(v) && skc.contains(v)) == 0)
  }

  test("q183 witnesses hold at spec SF; pairs cover all sources") {
    val rows = Sketches.kmvSourceJaccard(spark, sf()).collect()
    val nSrc = graft.Tables.load(spark, sf(), "documents")
      .select("source").distinct().count().toInt
    assert(rows.length == nSrc * (nSrc - 1) / 2)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"), s"bound broken: $r")
      val e = r.getAs[Double]("est_jaccard")
      assert(e >= 0.0 && e <= 1.0)
    }
  }

  test("hll zone: incrementally maintained ≡ rebuilt; summary matches q179") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, sf(), "documents")
    val full = SparkSpec.tempDir("hll_full").toString
    val inc = SparkSpec.tempDir("hll_inc").toString
    Sketches.hllZoneBuild(docs, full)
    Sketches.hllZoneBuild(docs.where(col("doc_id") % 2 === 0), inc)
    Sketches.hllZoneApplyBatch(spark, inc,
      docs.where(col("doc_id") % 2 =!= 0))
    def zone(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(zone(inc) == zone(full),
      "maintained zone drifted from full rebuild")
    // the zone summary carries exactly the q179 sketch state
    val fromZone = Sketches.hllZoneSummary(spark, full).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fromQuery = Sketches.hllDistinct(spark, sf()).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_regs_hit"), r.getAs[Long]("z_scaled"))).toMap
    assert(fromZone == fromQuery, "zone summary drifted from q179")
  }

  test("cm sketch: estimates dominate exact counts and witnesses hold") {
    val rows = Sketches.cmSketchFreq(spark, sf()).collect()
    assert(rows.length == Sketches.CmTop)
    rows.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("n_exact"),
        s"count-min undercounted: $r") // structural guarantee
      assert(r.getAs[Boolean]("within_bound"), s"cm bound broken: $r")
    }
    // the report is in descending exact-frequency order
    val ex = rows.map(_.getAs[Long]("n_exact")).toSeq
    assert(ex == ex.sorted.reverse)
  }

  test("cm zone: incrementally maintained ≡ rebuilt (sum is the merge)") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, sf(), "documents")
    val full = SparkSpec.tempDir("cm_full").toString
    val inc = SparkSpec.tempDir("cm_inc").toString
    Sketches.cmZoneBuild(docs, full)
    Sketches.cmZoneBuild(docs.where(col("doc_id") % 2 === 0), inc)
    Sketches.cmZoneApplyBatch(spark, inc,
      docs.where(col("doc_id") % 2 =!= 0))
    def zone(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(zone(inc) == zone(full),
      "maintained cm zone drifted from full rebuild")
    // total sketch state stays within the constant d·w bound
    assert(zone(full).size <= Sketches.CmD * Sketches.CmW)
  }

  test("token drift: identical halves ≈ 0, disjoint vocabularies = 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // pick doc ids per hash-epoch so the planted corpora control
    // which epoch each doc lands in
    def epochOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"drift:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2
    }
    val e0 = (0L until 100L).filter(epochOf(_) == 0).take(10)
    val e1 = (0L until 100L).filter(epochOf(_) == 1).take(10)
    def mk(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "text", "source")
        .select(col("doc_id"),
          graft.util.Tokens.whitespace(col("text")).as("w"),
          col("source"))
    // same: both epochs draw the identical token string
    val same = mk((e0 ++ e1).map(id => (id, "alpha beta gamma", "s")))
    val sameTv = Sketches.tokenDriftOf(same).collect().head
    assert(sameTv.getAs[Double]("tv_drift") == 0.0)
    assert(!sameTv.getAs[Boolean]("drifted"))
    // disjoint: epoch vocabularies never overlap → TV = 1
    val disj = mk(e0.map(id => (id, "alpha beta", "s")) ++
      e1.map(id => (id, "delta epsilon", "s")))
    val dTv = Sketches.tokenDriftOf(disj).collect().head
    assert(math.abs(dTv.getAs[Double]("tv_drift") - 1.0) < 1e-12,
      s"disjoint TV ${dTv.getAs[Double]("tv_drift")}")
    assert(dTv.getAs[Boolean]("drifted"))
    // one empty epoch → NULL report, not infinity
    val empty = mk(e0.map(id => (id, "alpha", "s")))
    val eTv = Sketches.tokenDriftOf(empty).collect().head
    assert(eTv.isNullAt(eTv.fieldIndex("tv_drift")))
  }

  test("q178/q179 witnesses hold at spec SF and schemas agree") {
    val kmv = Sketches.kmvDistinct(spark, sf()).collect()
    val hll = Sketches.hllDistinct(spark, sf()).collect()
    assert(kmv.nonEmpty && hll.nonEmpty)
    kmv.foreach(r => assert(r.getAs[Boolean]("within_bound"),
      s"kmv bound broken: $r"))
    hll.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"), s"hll bound broken: $r")
      assert(r.getAs[Long]("n_regs_hit") <= Sketches.HllM)
    }
    // the sketch must be exercising its estimating range at spec SF,
    // not the degenerate exhaustive range
    assert(kmv.forall(_.getAs[Long]("n_sketch") == Sketches.KmvK),
      "kmv under-full at spec SF — input relation too small")
  }
}
