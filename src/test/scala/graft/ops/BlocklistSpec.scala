package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q157 contracts (the oracle gate checks cross-engine equality of
  * every bit; these check the PROPERTIES the bloom design promises). */
class BlocklistSpec extends SparkSpec {

  private lazy val out = Blocklist.bloomScrub(spark, sf()).collect()

  test("q157: no false negatives — every blocked doc is a bloom hit") {
    // `caught` is the witness column; it must be TRUE everywhere, and
    // concretely: every true member hits
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("caught"), r.toString)
      if (r.getAs[Boolean]("true_member"))
        assert(r.getAs[Boolean]("bloom_hit"), r.toString)
      assert(r.getAs[Boolean]("keep") == !r.getAs[Boolean]("bloom_hit"))
    }
    // the deterministic stand-in blocklist: every 17th doc id is a
    // member (plus any doc sharing a blocked text digest)
    out.filter(_.getAs[Long]("doc_id") % 17 == 0)
      .foreach(r => assert(r.getAs[Boolean]("true_member"), r.toString))
  }

  test("bloom admission: no false negatives on generated unicode content") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // arbitrary content — unicode included — through the REAL
    // production path: q157 over a documents table of generated text,
    // where every blocked (17th) text must hit
    val gen = Gen.nonEmptyListOf(Gen.frequency(
      4 -> Gen.alphaNumChar, 1 -> Gen.oneOf('é', 'ß', '中', '☃', '\t')))
      .map(_.mkString)
    val texts = (0 until 300).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(99L + i))).distinct
    val dir = SparkSpec.tempDir("bloom_unicode").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = Blocklist.bloomScrub(spark, dir).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("bloom_hit")).toMap
    assert(got.size == texts.size)
    texts.indices.filter(_ % 17 == 0).foreach { i =>
      assert(got(i.toLong), s"false negative at doc $i")
    }
  }

  test("q157: false-positive rate is a dial, not a failure mode") {
    // ~6% of docs set 3 of 4096 bits each; at sf0.001 occupancy is low
    // and the FP rate must stay far from saturation (a regression to
    // all-hits would still pass the no-false-negative contract — this
    // bounds the other side)
    val fp = out.count(r =>
      r.getAs[Boolean]("bloom_hit") && !r.getAs[Boolean]("true_member"))
    assert(fp.toDouble / out.length < 0.25,
      s"fp rate ${fp.toDouble / out.length} — filter saturated?")
  }
}
