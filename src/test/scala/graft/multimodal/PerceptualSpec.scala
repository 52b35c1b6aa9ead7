package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** dHash ground truth and the lossless-banding contract. */
class PerceptualSpec extends SparkSpec {

  private def gradient(shift: Int): Ppm.Image = {
    // horizontally increasing luminance: every dHash bit is 1
    val rgb = Array.tabulate(8 * 8 * 3) { i =>
      val p = i / 3
      ((p % 8) * 16 + shift).toByte
    }
    Ppm.Image(8, 8, rgb)
  }

  test("dhash: hand-computed values on constructed images") {
    // strictly increasing rows: all 56 bits set
    assert(Perceptual.dhash(gradient(0)) == (1L << 56) - 1)
    // constant image: gray never increases, all bits 0
    val flat = Ppm.Image(8, 8, Array.fill(8 * 8 * 3)(100.toByte))
    assert(Perceptual.dhash(flat) == 0L)
    // brightness shift leaves every gradient sign unchanged — the
    // perceptual-invariance property the hash exists for
    assert(Perceptual.dhash(gradient(40)) == Perceptual.dhash(gradient(0)))
    // horizontal mirror flips every comparison
    val mirror = Ppm.Image(8, 8, Array.tabulate(8 * 8 * 3) { i =>
      val p = i / 3
      ((7 - (p % 8)) * 16).toByte
    })
    assert(Perceptual.dhash(mirror) == 0L)
    // one-pixel luma bump to max flips exactly one comparison: the
    // (3,4)<(3,5) bit turns 0; the left neighbor comparison (3,3)<(3,4)
    // stays 1 — locality is what makes Hamming distance meaningful
    val base = gradient(0)
    val bumped = base.rgb.clone()
    bumped((3 * 8 + 4) * 3) = 255.toByte
    bumped((3 * 8 + 4) * 3 + 1) = 255.toByte
    bumped((3 * 8 + 4) * 3 + 2) = 255.toByte
    val d = Perceptual.dhash(base) ^ Perceptual.dhash(Ppm.Image(8, 8, bumped))
    assert(java.lang.Long.bitCount(d) == 1,
      s"expected exactly one flipped bit: ${d.toBinaryString}")
  }

  test("ahash: gain invariance and frame-order sensitivity") {
    val rnd = new scala.util.Random(7)
    val samples = Array.fill[Short](256)(
      ((rnd.nextInt(256) - 128) * 256).toShort)
    val a = Wav.Audio(8000, 1, samples)
    // halving every sample (exact: all are multiples of 256) scales
    // every frame energy by exactly 1/4 — hash unchanged
    val half = Wav.Audio(8000, 1, samples.map(s => (s / 2).toShort))
    assert(Perceptual.ahash(a) == Perceptual.ahash(half))
    // swapping two frames' content flips their neighborhood bits
    val swapped = samples.clone()
    for (j <- 0 until 4) {
      val t = swapped(40 + j)
      swapped(40 + j) = swapped(44 + j); swapped(44 + j) = t
    }
    assert(Perceptual.ahash(a) !=
      Perceptual.ahash(Wav.Audio(8000, 1, swapped)))
    // encode → decode through the real RIFF codec is hash-transparent
    val roundTrip = Wav.decode(Wav.encode(a)).get
    assert(Perceptual.ahash(roundTrip) == Perceptual.ahash(a))
  }

  test("q124 banded join equals brute force over all audio hash pairs") {
    val ah = Perceptual.ahashes(spark, sf())
    val brute = ah.as("x").crossJoin(ah.as("y"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("bit_count(x.dhash ^ y.dhash)").cast("int").as("hamming"))
      .where(col("hamming") <= 7)
      .collect().map(_.toSeq).toSet
    val got = Perceptual.audioNearDup(spark, sf())
      .collect().map(_.toSeq).toSet
    assert(got == brute)
  }

  test("q125: a 16-byte-rotated clip shares exactly 3 of 4 frames") {
    import spark.implicits._
    // frame j tiles bytes from offset 16j, so rotating the text left
    // by 16 bytes turns frames {1,2,3} of the original into frames
    // {0,1,2} of the rotation — the alignment robustness overlapping
    // frames exist for
    // length 80 on purpose: at length 64 the four 16-byte frame
    // offsets cycle the whole text, so a 16-rotation reproduces the
    // SAME frame set (shared = 4) instead of shifting it by one
    val text = (1 to 80).map(i => ('a' + i % 26).toChar).mkString
    require(text.length == 80)
    val rotated = text.substring(16) + text.substring(0, 16)
    val dir = SparkSpec.tempDir("videodup").toString
    Seq((1L, text), (2L, rotated)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Perceptual.videoNearDup(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 2L)
    assert(rows(0).getAs[Long]("shared_frames") == 3L)
  }

  test("capped buckets: sound pairs, clone families stay connected") {
    import spark.implicits._
    // 30 exact clones (one dhash) + near variants + unrelated hashes:
    // every band bucket of the clone hash holds ≥ 30 members, so a
    // cap of 5 forces the star+chain regime on all of them
    val clone = 0x00FF00FF00FF00L
    val rows = (1L to 30L).map(i => (i, clone)) ++
      Seq((31L, clone ^ 1L), (32L, clone ^ 3L), // hamming 1 and 2
        (40L, 0x123456789ABCDL), (41L, 0x0FEDCBA987654L))
    val dh = rows.toDF("doc_id", "dhash")
    val brute = dh.as("x").crossJoin(dh.as("y"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("bit_count(x.dhash ^ y.dhash)").cast("int").as("hamming"))
      .where(col("hamming") <= 7)
      .collect().map(_.toSeq).toSet
    val capped = Perceptual.bandedHammingPairs(dh, 7, maxBucket = 5)
      .collect().map(_.toSeq).toSet
    // soundness: the cap only DROPS candidates, never invents pairs
    assert(capped.subsetOf(brute))
    assert(capped.size < brute.size) // the cap actually bound here
    // connectivity: union-find over the capped pairs must keep every
    // clone (and the hamming-1/2 variants, reachable through shared
    // band buckets) in ONE component
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    capped.foreach { p =>
      val (a, b) = (p(0).asInstanceOf[Long], p(1).asInstanceOf[Long])
      parent(find(a)) = find(b)
    }
    val cloneRoots = ((1L to 30L) ++ Seq(31L, 32L)).map(find).toSet
    assert(cloneRoots.size == 1,
      s"clone family split into ${cloneRoots.size} components")
    // a non-binding cap reproduces brute force exactly
    val uncapped = Perceptual.bandedHammingPairs(dh, 7, maxBucket = 1000)
      .collect().map(_.toSeq).toSet
    assert(uncapped == brute)
    // shape gate (round-14): the block-grid spelling (selected by a
    // memo key — the at-scale regime) and the default simple
    // self-join must be output-identical, capped and uncapped
    val gridCapped = Perceptual.bandedHammingPairs(dh, 7,
        maxBucket = 5, memoKey = Some("shape-pin-capped"))
      .collect().map(_.toSeq).toSet
    assert(gridCapped == capped,
      "grid and simple shapes diverged under a binding cap")
    val gridUncapped = Perceptual.bandedHammingPairs(dh, 7,
        maxBucket = 1000, memoKey = Some("shape-pin-uncapped"))
      .collect().map(_.toSeq).toSet
    assert(gridUncapped == brute,
      "grid shape drifted from brute force")
  }

  test("q122 banded join equals brute force over all hash pairs") {
    val dh = Perceptual.dhashes(spark, sf())
    val brute = dh.as("x").crossJoin(dh.as("y"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("bit_count(x.dhash ^ y.dhash)").cast("int").as("hamming"))
      .where(col("hamming") <= 7)
      .collect().map(_.toSeq).toSet
    val got = Perceptual.imageNearDup(spark, sf())
      .collect().map(_.toSeq).toSet
    assert(got == brute)
  }
}
