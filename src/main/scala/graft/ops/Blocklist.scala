package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}

/** q157: bloom-filter blocklist scrub — the 100 TB way to apply a
  * content blocklist (known-bad digests: spam, CSAM hashes, opt-outs,
  * eval contamination) to a corpus WITHOUT joining the corpus against
  * the blocklist relation: fold the blocklist into an m-bit bloom
  * filter once (tiny — here 4096 bits = 128 32-bit words), broadcast
  * it, and probe per document map-side. A probe miss PROVES the
  * document is not blocked (no false negatives — the property pinned
  * by the `caught` gate column); a hit sends the (rare) candidate to
  * the exact check. At scale the corpus-side cost is 3 shifts + 3
  * array reads per row, zero shuffle, and the blocklist side is a
  * partial-agg bit-OR — the standard compact-summary broadcast, with
  * the false-positive rate as the (m, k) dial.
  *
  * Everything is integer column math on the cross-engine 60-bit md5
  * prefix ([[graft.dedup.Md5Prefix]]): k = 3 positions are disjoint
  * 12-bit slices of the hash (partitioned hashing), so DuckDB replays
  * filter construction AND probing bit-for-bit. The blocklist here is
  * a deterministic stand-in (every 17th doc_id — an external digest
  * list drops in without changing any shape); membership is by TEXT
  * digest, so duplicates of a blocked document are blocked too.
  */
object Blocklist extends QueryModule {

  private val MBits = 4096
  private val WordBits = 32 // 32-bit words in BIGINT lanes: 1<<31 stays positive
  private val NWords = MBits / WordBits // 128
  private val K = 3 // 12-bit slices of the 60-bit hash; 3·12 ≤ 60

  /** (word index, set-bit mask) for slice j of hash column h. */
  private def pos(h: org.apache.spark.sql.Column, j: Int) =
    shiftright(h, 12 * j).bitwiseAND(lit((MBits - 1).toLong))

  /** Filter build over a blocked-digest column `h`: explode the k
    * positions, partial-agg bit-OR per word — (w, om), ≤ [[NWords]]
    * rows. Shared by the batch scrub and the streaming admission. */
  private[graft] def wordsOf(blocked: DataFrame): DataFrame =
    blocked
      .select(explode(array((0 until K).map(j => pos(col("h"), j)): _*))
        .as("p"))
      .select(expr(s"p DIV $WordBits").as("w"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(p % $WordBits AS INT))")
          .as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("om"))

  /** The probe predicate over columns `h` (60-bit digest) and `arr`
    * (the [[NWords]]-long filter array): 3 shifts + 3 element_at,
    * pure map-side column math — ONE spelling for batch and
    * streaming. */
  private[graft] def hitColumn: org.apache.spark.sql.Column =
    (0 until K)
      .map { j =>
        val p = s"(shiftright(h, ${12 * j}) & ${MBits - 1})"
        expr(s"(element_at(arr, CAST($p DIV $WordBits AS INT) + 1) & " +
          s"shiftleft(CAST(1 AS BIGINT), CAST($p % $WordBits AS INT))) != 0")
      }
      .reduce(_ && _)

  def bloomScrub(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Md5Prefix
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), Md5Prefix.h(col("text")).as("h"))
    val blocked = docs.where(col("doc_id") % 17 === 0)
    // filter build → ONE row carrying the dense 128-word array (absent
    // words are 0) — the broadcastable artifact
    val filterRow = wordsOf(blocked)
      .agg(map_from_entries(collect_list(struct(col("w"), col("om"))))
        .as("wm"))
      .select(expr(
        s"transform(sequence(0, ${NWords - 1}), " +
          "i -> coalesce(wm[CAST(i AS BIGINT)], CAST(0 AS BIGINT)))")
        .as("arr"))
    // probe: fully map-side after the 1-row broadcast; the exact
    // check is GATED by the probe in the join condition itself — a
    // bloom miss PROVES non-membership (no false negatives), so only
    // hit rows can match, which is also the at-scale shape: with a
    // blocklist beyond broadcast range, pre-filtering the corpus
    // side to bloom hits is what keeps the exact shuffle join
    // O(hits), not O(corpus)
    val bl = blocked.select(col("h").as("bl_h"))
      .distinct().withColumn("true_member", lit(true))
    docs.crossJoin(broadcast(filterRow))
      .withColumn("bloom_hit", hitColumn)
      .join(bl, col("bloom_hit") && col("h") === col("bl_h"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        coalesce(col("true_member"), lit(false)).as("true_member"))
      // the verdict comes from the EXACT check: a bloom FALSE
      // POSITIVE (an innocent doc colliding into set bits) must keep
      // its document — bloom_hit only gates which rows pay the exact
      // semi-join (at scale the join probes hits only; a miss proves
      // non-membership, so keep = !bloom_hit would be equal there,
      // but spelling it on true_member makes the contract literal)
      .withColumn("keep", !col("true_member"))
      // the no-false-negative guarantee as a gated value: every true
      // member must be a bloom hit — the q133 witness discipline
      .withColumn("caught", col("bloom_hit") || !col("true_member"))
      .orderBy("doc_id")
  }

  /** q157's oracle; Quality's oracles splice it. */
  private[graft] lazy val BloomScrubSql: String =
    s"""WITH d AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
         |  FROM documents),
         |bl AS (SELECT h FROM d WHERE doc_id % 17 = 0),
         |bits AS (
         |  SELECT ((h >> (12 * CAST(j AS INT))) & ${MBits - 1}) AS p
         |  FROM bl CROSS JOIN range($K) t(j)),
         |wd AS (
         |  SELECT p // $WordBits AS w,
         |    bit_or(1::BIGINT << CAST(p % $WordBits AS INT)) AS om
         |  FROM bits GROUP BY 1),
         |arr AS (
         |  SELECT list(coalesce(om, 0) ORDER BY i) AS a
         |  FROM range($NWords) t(i) LEFT JOIN wd ON wd.w = t.i),
         |probe AS (
         |  SELECT doc_id, h,
         |    (a[CAST(((h >> 0) & ${MBits - 1}) // $WordBits AS INT) + 1]
         |      & (1::BIGINT << CAST(((h >> 0) & ${MBits - 1})
         |        % $WordBits AS INT))) != 0 AND
         |    (a[CAST(((h >> 12) & ${MBits - 1}) // $WordBits AS INT) + 1]
         |      & (1::BIGINT << CAST(((h >> 12) & ${MBits - 1})
         |        % $WordBits AS INT))) != 0 AND
         |    (a[CAST(((h >> 24) & ${MBits - 1}) // $WordBits AS INT) + 1]
         |      & (1::BIGINT << CAST(((h >> 24) & ${MBits - 1})
         |        % $WordBits AS INT))) != 0 AS bloom_hit
         |  FROM d CROSS JOIN arr)
         |SELECT p.doc_id, p.bloom_hit,
         |  (p.h IN (SELECT h FROM bl)) AS true_member,
         |  NOT (p.h IN (SELECT h FROM bl)) AS keep,
         |  (p.bloom_hit OR NOT (p.h IN (SELECT h FROM bl))) AS caught
         |FROM probe p ORDER BY doc_id""".stripMargin

  lazy val records: Seq[Query] = Seq(
    Query("q157_bloom_scrub", bloomScrub(_, _), BloomScrubSql))
}
