package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.util.Tokens

/** Mergeable cardinality sketches over the token stream — the
  * "how many distinct tokens/urls/ngrams does each slice have"
  * question that exact `count(distinct)` answers with a corpus-keyed
  * shuffle and a sketch answers with CONSTANT per-slice state. At
  * 100 TB the sketch is the only affordable spelling for per-source /
  * per-shard vocabulary dashboards, and because both sketches here
  * are deterministic functions of the input SET (fixed hash, min/max
  * state), their outputs are hash-gateable and DuckDB-replayable —
  * unlike `approx_count_distinct`, whose HLL++ internals differ per
  * engine.
  *
  * Two classic designs, both riding Spark's partial aggregation
  * (map-side shrink → merge, the [[graft.functions.MisraGries]]
  * surface):
  *   - KMV / bottom-k (q178): k smallest distinct 60-bit hashes via
  *     the typed [[graft.functions.KmvSketch]] Aggregator;
  *     D̂ = (k−1)·2⁶⁰/h₍ₖ₎, σ ≈ 1/√(k−2).
  *   - HyperLogLog registers (q179): 64 registers of max
  *     leading-zero rank, spelled ENTIRELY in built-in integer
  *     expressions (shift/%/`length(bin())` — the q151 bits
  *     discipline), so the whole sketch is one `groupBy(source,
  *     reg).max` partial agg; D̂ = α·m²·2⁵⁵/Σ2⁵⁵⁻ᴹ, σ ≈ 1.04/√m.
  *
  * Both queries also emit the EXACT distinct count and a
  * `within_bound` witness column (the q84/q133 audit discipline:
  * the estimate is the production path, the exact count is the
  * gate-affordable audit; at 100 TB you drop the audit column, not
  * the sketch). The error bound uses 4σ — loose enough to be stable
  * at every SF, tight enough that a broken sketch fails the gate.
  */
object Sketches extends QueryModule {

  /** KMV size: σ ≈ 1/√62 ≈ 12.7%. */
  val KmvK = 64

  /** HLL register count m (and its α constant): σ ≈ 13%. */
  val HllM = 64

  /** Hash range of [[graft.dedup.Md5Prefix]]: 2⁶⁰ (exact as a double
    * — a power of two). */
  val HashRange: Double = 1152921504606846976.0

  /** (source, 60-bit 3-gram-shingle hash) — the one corpus-derived
    * relation both sketches consume. Shingles, not tokens: this
    * corpus's per-source token vocabulary is only ~31 values, which
    * would leave both sketches in their degenerate exhaustive range;
    * distinct shingles (10³–10⁴ per source here, unbounded on a real
    * corpus) are also the statistic dedup/contamination sizing
    * actually wants. Tokens stream from the shared span-tokens zone
    * (the q171 discipline: tokenize once per application); the
    * `size ≥ 3` guard keeps [[Tokens.ngramsOf]] in its sliding-window
    * branch (the q145 contract — short docs contribute NO shingles,
    * matching the oracle's `range()` emptiness). */
  private def shingleHashes(s: SparkSession, dir: String): DataFrame = {
    // r14: the 3-gram hashes come from the shared span-grams zone
    // (CorpusStats.spanGramZone — same span-tokens source, same
    // size ≥ 3 sliding-window guard, same Md5Prefix hash, built once
    // at the derived width). q183 consumed this relation from FOUR
    // plan branches (sketch rollup + the exact witness's sizes and
    // both self-join sides) and re-ran the explode+hash serially per
    // branch; now every branch scans two fixed-width zone columns.
    val src = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    graft.text.CorpusStats.spanGramZone(s, dir, 3)
      .select(col("doc_id"), col("gh"))
      .join(src, "doc_id")
      .select(col("source"), col("gh").as("h"))
  }

  /** q178: per-source KMV distinct-token sketch + estimate + exact
    * witness. Under-full sketch (fewer than k distinct values) holds
    * the WHOLE distinct set, so the estimate degrades to the exact
    * count — the standard KMV small-set rule, spelled identically in
    * both engines. */
  /** The per-source (mins, n_exact) sketch relation — shared by q178
    * and q183 (the sketches compose; the derivation must not fork). */
  private def kmvRelation(s: SparkSession, dir: String): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketch(KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    shingleHashes(s, dir)
      .groupBy(col("source"))
      .agg(kmv(col("h")).as("mins"),
        countDistinct(col("h")).as("n_exact"))
  }

  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    kmvRelation(s, dir)
      .select(col("source"),
        size(col("mins")).cast("long").as("n_sketch"),
        element_at(col("mins"), size(col("mins"))).as("kth_min"),
        col("n_exact"))
      .withColumn("est_distinct",
        when(col("n_sketch") < KmvK, col("n_exact").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(HashRange) /
            col("kth_min").cast("double")))
      .withColumn("within_bound",
        abs(col("est_distinct") - col("n_exact").cast("double")) <=
          lit(4.0 / math.sqrt(KmvK - 2.0)) *
            col("n_exact").cast("double"))
      .orderBy("source")
  }

  /** q179: per-source HyperLogLog registers folded to the harmonic
    * sum — `reg = h mod 64`, `rank = 55 − bitlen(h ÷ 64)` (the 60-bit
    * hash leaves 54 payload bits, so ranks live in [1, 55]), register
    * state = max rank, and the harmonic denominator is the exact
    * integer Σ 2⁵⁵⁻ᴹʳ with empty registers contributing 2⁵⁵ (M = 0).
    * The only doubles are the final α·m²-scaled division and the
    * witness comparison. Raw α for m = 64: 0.709 (Flajolet et al.
    * 2007); no small-range correction — the witness bound absorbs it
    * at gate scale and a 100 TB slice is never in small range. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val regs = shingleHashes(s, dir)
      .select(col("source"),
        (col("h") % HllM).cast("int").as("reg"),
        shiftright(col("h"), 6).as("wbits"))
      .select(col("source"), col("reg"),
        expr("CASE WHEN wbits = 0 THEN 55 " +
          "ELSE 55 - length(bin(wbits)) END").as("rank"))
      .groupBy(col("source"), col("reg"))
      .agg(max(col("rank")).as("m"))
    val z = regs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_regs_hit"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - m AS INT))"))
          .as("z_hit"))
      .select(col("source"), col("n_regs_hit"),
        (col("z_hit") + (lit(HllM.toLong) - col("n_regs_hit")) *
          expr("shiftleft(CAST(1 AS BIGINT), 55)")).as("z_scaled"))
    val exact = shingleHashes(s, dir).groupBy(col("source"))
      .agg(countDistinct(col("h")).as("n_exact"))
    z.join(exact, "source")
      .withColumn("est_distinct",
        lit(0.709) * lit((HllM.toLong * HllM).toDouble) *
          expr("CAST(shiftleft(CAST(1 AS BIGINT), 55) AS DOUBLE)") /
          col("z_scaled").cast("double"))
      .withColumn("within_bound",
        abs(col("est_distinct") - col("n_exact").cast("double")) <=
          lit(4.0 * 1.04 / math.sqrt(HllM.toDouble)) *
            col("n_exact").cast("double"))
      .select(col("source"), col("n_regs_hit"), col("z_scaled"),
        col("n_exact"), col("est_distinct"), col("within_bound"))
      .orderBy("source")
  }

  /** q183: pairwise source Jaccard from COMPOSED KMV sketches — the
    * 100 TB spelling of "which sources share content" (q139 answers
    * it doc-exactly; this answers it from per-source constant-size
    * state): for sources a, b the union sketch is the merge of their
    * bottom-k sketches (k smallest of A ∪ B — again a pure set
    * function), and the fraction of union-sketch values present in
    * BOTH sketches is the standard bottom-k Jaccard estimator
    * (Broder's minwise resemblance, one-permutation bottom-k form).
    * Exact Jaccard rides as the witness (inclusion–exclusion over
    * the distinct-hash relation — gate-affordable, droppable at
    * scale); the bound is ABSOLUTE (4·√(¼/k) = 0.25): resemblance
    * concentration is additive, not relative.
    *
    * Scale shape: the sketch relation is |sources| rows of ≤ k longs
    * — the pair join is sketch×sketch, never corpus-keyed; all array
    * ops are bounded by 2k. The exact witness is the only
    * corpus-keyed work (distinct-hash self-join on h). */
  def kmvSourceJaccard(s: SparkSession, dir: String): DataFrame = {
    val sk = kmvRelation(s, dir).select(col("source"), col("mins"))
    val pairs = sk.select(col("source").as("source_a"),
        col("mins").as("ma"))
      .join(sk.select(col("source").as("source_b"), col("mins").as("mb")),
        col("source_a") < col("source_b"))
      .withColumn("u",
        expr(s"slice(array_sort(array_distinct(concat(ma, mb))), 1, $KmvK)"))
      .withColumn("n_union_sketch", size(col("u")).cast("long"))
      .withColumn("n_shared_sketch",
        size(expr("filter(u, x -> array_contains(ma, x) AND " +
          "array_contains(mb, x))")).cast("long"))
      .withColumn("est_jaccard",
        col("n_shared_sketch").cast("double") /
          col("n_union_sketch").cast("double"))
    val dh = shingleHashes(s, dir).distinct()
    val sizes = dh.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    val inter = dh.select(col("source").as("source_a"), col("h"))
      .join(dh.select(col("source").as("source_b"), col("h")),
        Seq("h"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(sizes.select(col("source").as("source_a"), col("nd").as("na")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("nd").as("nb")),
        "source_b")
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("exact_jaccard",
        col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"))
      .withColumn("within_bound",
        abs(col("est_jaccard") - col("exact_jaccard")) <= lit(0.25))
      .select(col("source_a"), col("source_b"), col("n_union_sketch"),
        col("n_shared_sketch"), col("est_jaccard"),
        col("exact_jaccard"), col("within_bound"))
      .orderBy("source_a", "source_b")
  }

  /** Count-Min depth (independent hash rows) and width (buckets per
    * row): d·w = 2048 BIGINT cells of TOTAL state. */
  val CmD = 4
  val CmW = 512

  /** Report size and witness slack of q197: the estimate may
    * overshoot by at most [[CmBound]]·N/w (Markov at 8× the per-row
    * mean excess, then min over d=4 rows → violation odds (1/8)⁴ per
    * item under pairwise-uniform hashing). */
  val CmTop = 20
  val CmBound = 8.0

  /** The global 3-gram-shingle stream (shingle STRING, not hash —
    * each Count-Min row salts its own hash from the text). */
  private def shingles(s: SparkSession, dir: String): DataFrame = {
    val zone = Tokens.spanTokens(s, dir)
    zone.where(size(col("w")) >= 3)
      .select(explode(Tokens.ngramsOf(col("w"), 3)).as("g"))
  }

  /** q197: Count-Min frequency estimates for the top-[[CmTop]]
    * shingles — point estimate = min over rows of the salted-bucket
    * counter, against the exact count as the gate-affordable audit
    * (the q178/q179 witness discipline: at 100 TB the exact side
    * drops, the d·w-cell sketch serves every frequency probe).
    * `est ≥ exact` is the structural Count-Min guarantee (counters
    * only ever overcount); the slack side is [[CmBound]]·N/w. */
  def cmSketchFreq(s: SparkSession, dir: String): DataFrame = {
    // ONE pass over the shingle stream (r15): counters, total and the
    // exact top-k previously each re-derived the zone-scan + 3-gram
    // explode (Probe time: three serial single-task stages, 1.65 CPU-s).
    // All three now branch off the SAME (g, n_exact) aggregate — the
    // g-keyed exchange is one canonical subtree, so the stream pass
    // runs once (runtime-reused) and each branch reduces distinct
    // grams, not occurrences:
    //  - counters: a Count-Min cell is Σ n_exact(g) over the grams
    //    salting into it — identical BIGINTs to counting occurrences;
    //  - total: Σ n_exact ≡ count(*) over the stream.
    // At 100 TB this is strictly better: one corpus pass, and the
    // sketch build aggregates |distinct shingles|·d rows instead of
    // |stream|·d. NOT spread: a round-robin of the token-array zone
    // shuffles the full text bytes through one serial map task
    // (probed: exec 1.31 → 1.99 s), and the three old derivations ran
    // as CONCURRENT query stages anyway — the win here is CPU passes
    // (3 → 1), which is what matters at corpus scale, not gate wall.
    val grams = shingles(s, dir)
    val exact = grams.groupBy(col("g")).agg(count(lit(1)).as("n_exact"))
    val counters = exact
      .select(explode(expr(s"sequence(0, ${CmD - 1})")).as("r"),
        col("g"), col("n_exact"))
      .select(col("r"),
        (graft.dedup.Md5Prefix.h(
          concat(col("r").cast("string"), lit(":"), col("g"))) % CmW)
          .cast("int").as("bucket"),
        col("n_exact"))
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("n_exact")).as("c"))
    val top = exact.orderBy(col("n_exact").desc, col("g")).limit(CmTop)
    val total = exact.agg(sum(col("n_exact")).as("n_total"))
    val probes = top
      .select(col("g"), col("n_exact"),
        explode(expr(s"sequence(0, ${CmD - 1})")).as("r"))
      .select(col("g"), col("n_exact"), col("r"),
        (graft.dedup.Md5Prefix.h(
          concat(col("r").cast("string"), lit(":"), col("g"))) % CmW)
          .cast("int").as("bucket"))
      .join(counters, Seq("r", "bucket"))
      .groupBy(col("g"), col("n_exact"))
      .agg(min(col("c")).as("est"))
    probes.crossJoin(total)
      .select(col("g"), col("n_exact"), col("est"),
        (col("est") - col("n_exact")).as("overcount"),
        (col("est") >= col("n_exact") &&
          (col("est") - col("n_exact")).cast("double") <=
            lit(CmBound / CmW) * col("n_total").cast("double"))
          .as("within_bound"))
      .orderBy(col("n_exact").desc, col("g"))
  }

  /** Hashed-bucket count and drift flag threshold of q206. */
  val DriftBuckets = 4096
  val DriftTau = 0.5

  /** q206: CORPUS DRIFT monitor — total-variation distance between
    * the token distributions of two ingest epochs per source (the
    * "did this crawl batch change character" dashboard; epoch here =
    * the doc_id parity split, the repo's split-stability idiom — in
    * production the epoch column comes from the ingest zone). Tokens
    * hash into [[DriftBuckets]] buckets (the q171 bounded-state
    * discipline: the comparison state is ≤ 2·4096 BIGINTs per source
    * at ANY corpus size), and TV distance is spelled EXACTLY:
    * ½ Σ_b |p_a(b) − p_b(b)| = Σ_b |n_a·N_B − n_b·N_A| / (2·N_A·N_B)
    * — the numerator is an exact BIGINT sum (safe to ~10⁶-token
    * buckets × 10¹²-token epochs), the division is ONE final double.
    * A source with an empty epoch reports NULL drift (no
    * distribution to compare), never an infinity. */
  def tokenDrift(s: SparkSession, dir: String): DataFrame = {
    val toks = Tokens.spanTokens(s, dir)
      .join(Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source")), "doc_id")
    tokenDriftOf(toks)
  }

  /** df-level core of q206 over a (doc_id, w, source) relation —
    * exposed for spec-level planted-drift corpora. */
  private[text] def tokenDriftOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .where(size(col("w")) >= 1)
      // salted-hash epoch split, NOT doc_id parity: this generator
      // assigns sources in doc_id blocks, so parity would leave one
      // epoch empty per source (all-NULL report); the hash split is
      // the q102 split-stability idiom and decorrelates from any id
      // layout
      .select(col("source"),
        (graft.dedup.Md5Prefix.h(
          concat(lit("drift:"), col("doc_id").cast("string"))) % 2)
          .as("epoch"),
        explode(col("w")).as("tok"))
      .select(col("source"), col("epoch"),
        (graft.dedup.Md5Prefix.h(col("tok")) % DriftBuckets)
          .cast("int").as("bucket"))
    val cells = toks.groupBy(col("source"), col("bucket"))
      .agg(sum(when(col("epoch") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("epoch") === 1, 1L).otherwise(0L)).as("nb"))
    // numerator needs both totals per row — one source-keyed join
    val tots = cells.groupBy(col("source"))
      .agg(sum(col("na")).as("na_total"), sum(col("nb")).as("nb_total"),
        count(lit(1)).as("n_buckets_hit"))
    val num = cells.join(tots, "source")
      .groupBy(col("source"))
      .agg(sum(abs(col("na") * col("nb_total") -
        col("nb") * col("na_total"))).as("tv_num"))
    tots.join(num, "source")
      .select(col("source"), col("na_total"), col("nb_total"),
        col("n_buckets_hit"),
        when(col("na_total") > 0 && col("nb_total") > 0,
          col("tv_num").cast("double") /
            (lit(2.0) * col("na_total").cast("double") *
              col("nb_total").cast("double"))).as("tv_drift"))
      .withColumn("drifted",
        when(col("tv_drift").isNotNull, col("tv_drift") > DriftTau))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- oracle

  /** The (source, h) relation in DuckDB — mirrors [[shingleHashes]]
    * (the q145 gram spelling over the q171 tokenization). */
  private val tokSql: String =
    raw"""tok AS MATERIALIZED (
      |  SELECT source, unnest([
      |      ('0x' || substr(md5(array_to_string(w[i+1:i+3], ' ')),
      |        1, 15))::BIGINT
      |    for i in range(0, len(w) - 2)]) AS h
      |  FROM (SELECT source,
      |      string_split_regex(trim(text), '[ \t\n\v\f\r]+') AS w
      |    FROM documents)
      |  WHERE len(w) >= 3)""".stripMargin

  /** The GLOBAL (un-sourced) shingle stream in DuckDB — [[shingles]]. */
  private val gramSql: String =
    raw"""tok AS MATERIALIZED (
      |  SELECT unnest([array_to_string(w[i+1:i+3], ' ')
      |    for i in range(0, len(w) - 2)]) AS g
      |  FROM (SELECT
      |      string_split_regex(trim(text), '[ \t\n\v\f\r]+') AS w
      |    FROM documents)
      |  WHERE len(w) >= 3)""".stripMargin

  /** The salted row-r bucket of shingle expression `e` in DuckDB. */
  private def cmBucketSql(r: String, e: String): String =
    s"CAST((('0x' || substr(md5(CAST($r AS VARCHAR) || ':' || $e), " +
      s"1, 15))::BIGINT % $CmW) AS INT)"

  lazy val records: Seq[Query] = Seq(
    Query("q178_kmv_distinct", kmvDistinct(_, _),
      s"""WITH $tokSql,
         |dh AS (SELECT DISTINCT source, h FROM tok),
         |rk AS (
         |  SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS r
         |  FROM dh),
         |agg AS (
         |  SELECT source,
         |    CAST(count(*) AS BIGINT) AS n_sketch,
         |    max(h) AS kth_min
         |  FROM rk WHERE r <= $KmvK GROUP BY 1),
         |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM dh GROUP BY 1)
         |SELECT agg.source, n_sketch, kth_min, n_exact,
         |  CASE WHEN n_sketch < $KmvK THEN CAST(n_exact AS DOUBLE)
         |    ELSE ${(KmvK - 1).toDouble} * $HashRange
         |      / CAST(kth_min AS DOUBLE) END AS est_distinct,
         |  abs((CASE WHEN n_sketch < $KmvK THEN CAST(n_exact AS DOUBLE)
         |    ELSE ${(KmvK - 1).toDouble} * $HashRange
         |      / CAST(kth_min AS DOUBLE) END) - CAST(n_exact AS DOUBLE))
         |    <= ${4.0 / math.sqrt(KmvK - 2.0)} * CAST(n_exact AS DOUBLE)
         |    AS within_bound
         |FROM agg JOIN ex ON ex.source = agg.source
         |ORDER BY agg.source
         |""".stripMargin),
    Query("q179_hll_distinct", hllDistinct(_, _),
      s"""WITH $tokSql,
         |r AS (
         |  SELECT source, CAST(h % $HllM AS INT) AS reg,
         |    CASE WHEN (h >> 6) = 0 THEN 55
         |      ELSE 55 - length(bin(h >> 6)) END AS rank
         |  FROM tok),
         |regs AS (
         |  SELECT source, reg, max(rank) AS m FROM r GROUP BY 1, 2),
         |z AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_regs_hit,
         |    CAST(sum(CAST(1 AS BIGINT) << (55 - m)) AS BIGINT)
         |      + ($HllM - CAST(count(*) AS BIGINT))
         |        * (CAST(1 AS BIGINT) << 55) AS z_scaled
         |  FROM regs GROUP BY 1),
         |ex AS (SELECT source, CAST(count(DISTINCT h) AS BIGINT)
         |         AS n_exact FROM tok GROUP BY 1),
         |est AS (
         |  SELECT z.source, n_regs_hit, z_scaled, n_exact,
         |    0.709 * ${(HllM.toLong * HllM).toDouble}
         |      * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
         |      / CAST(z_scaled AS DOUBLE) AS est_distinct
         |  FROM z JOIN ex ON ex.source = z.source)
         |SELECT source, n_regs_hit, z_scaled, n_exact, est_distinct,
         |  abs(est_distinct - CAST(n_exact AS DOUBLE))
         |    <= ${4.0 * 1.04 / math.sqrt(HllM.toDouble)}
         |      * CAST(n_exact AS DOUBLE) AS within_bound
         |FROM est ORDER BY source
         |""".stripMargin),
    Query("q183_kmv_source_jaccard", kmvSourceJaccard(_, _),
      s"""WITH $tokSql,
         |dh AS MATERIALIZED (SELECT DISTINCT source, h FROM tok),
         |rk AS (
         |  SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS r
         |  FROM dh),
         |sk AS MATERIALIZED (
         |  SELECT source, list(h ORDER BY h) AS mins
         |  FROM rk WHERE r <= $KmvK GROUP BY 1),
         |p AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    a.mins AS ma, b.mins AS mb,
         |    list_sort(list_distinct(a.mins || b.mins))[1:$KmvK] AS u0
         |  FROM sk a JOIN sk b ON a.source < b.source),
         |p2 AS (
         |  SELECT source_a, source_b,
         |    CAST(len(u0) AS BIGINT) AS n_union_sketch,
         |    CAST(len([x for x in u0 IF
         |      list_contains(ma, x) AND list_contains(mb, x)])
         |      AS BIGINT) AS n_shared_sketch
         |  FROM p),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nd
         |       FROM dh GROUP BY 1),
         |iv AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS n_inter
         |  FROM dh a JOIN dh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2),
         |f AS (
         |  SELECT p2.source_a, p2.source_b, n_union_sketch,
         |    n_shared_sketch,
         |    CAST(n_shared_sketch AS DOUBLE)
         |      / CAST(n_union_sketch AS DOUBLE) AS est_jaccard,
         |    CAST(coalesce(n_inter, 0) AS DOUBLE)
         |      / CAST(sa.nd + sb.nd - coalesce(n_inter, 0) AS DOUBLE)
         |      AS exact_jaccard
         |  FROM p2
         |  JOIN sz sa ON sa.source = p2.source_a
         |  JOIN sz sb ON sb.source = p2.source_b
         |  LEFT JOIN iv ON iv.source_a = p2.source_a
         |    AND iv.source_b = p2.source_b)
         |SELECT source_a, source_b, n_union_sketch, n_shared_sketch,
         |  est_jaccard, exact_jaccard,
         |  abs(est_jaccard - exact_jaccard) <= 0.25 AS within_bound
         |FROM f ORDER BY source_a, source_b
         |""".stripMargin),
    Query("q197_cm_sketch", cmSketchFreq(_, _),
      s"""WITH $gramSql,
         |cnt AS MATERIALIZED (
         |  SELECT t.r, ${cmBucketSql("t.r", "g")} AS bucket,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM tok CROSS JOIN range($CmD) t(r)
         |  GROUP BY 1, 2),
         |ex AS (SELECT g, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM tok GROUP BY 1),
         |top AS (SELECT g, n_exact FROM ex
         |        ORDER BY n_exact DESC, g LIMIT $CmTop),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok),
         |est AS (
         |  SELECT top.g, top.n_exact, min(c) AS est
         |  FROM top CROSS JOIN range($CmD) t(r)
         |  JOIN cnt ON cnt.r = t.r
         |    AND cnt.bucket = ${cmBucketSql("t.r", "top.g")}
         |  GROUP BY 1, 2)
         |SELECT g, n_exact, est, est - n_exact AS overcount,
         |  (est >= n_exact AND CAST(est - n_exact AS DOUBLE)
         |    <= ${CmBound / CmW} * CAST(n_total AS DOUBLE))
         |    AS within_bound
         |FROM est, tot ORDER BY n_exact DESC, g
         |""".stripMargin),
    Query("q206_token_drift", tokenDrift(_, _),
      (raw"""WITH tok AS (
         |  SELECT source,
         |    ('0x' || substr(md5('drift:' || CAST(doc_id AS VARCHAR)),
         |      1, 15))::BIGINT % 2 AS epoch,
         |    CAST((('0x' || substr(md5(t), 1, 15))::BIGINT
         |      % """.stripMargin + DriftBuckets + raw""") AS INT) AS bucket
         |  FROM (SELECT doc_id, source,
         |      unnest(string_split_regex(trim(text),
         |        '[ \t\n\v\f\r]+')) AS t
         |    FROM documents WHERE text IS NOT NULL)),
         |cells AS (
         |  SELECT source, bucket,
         |    CAST(sum(CASE WHEN epoch = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS na,
         |    CAST(sum(CASE WHEN epoch = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nb
         |  FROM tok GROUP BY 1, 2),
         |tots AS (
         |  SELECT source, CAST(sum(na) AS BIGINT) AS na_total,
         |    CAST(sum(nb) AS BIGINT) AS nb_total,
         |    CAST(count(*) AS BIGINT) AS n_buckets_hit
         |  FROM cells GROUP BY 1),
         |num AS (
         |  SELECT c.source,
         |    CAST(sum(abs(c.na * t.nb_total - c.nb * t.na_total))
         |      AS BIGINT) AS tv_num
         |  FROM cells c JOIN tots t ON t.source = c.source
         |  GROUP BY 1),
         |f AS (
         |  SELECT t.source, na_total, nb_total, n_buckets_hit,
         |    CASE WHEN na_total > 0 AND nb_total > 0
         |      THEN CAST(tv_num AS DOUBLE)
         |        / (2.0 * CAST(na_total AS DOUBLE)
         |           * CAST(nb_total AS DOUBLE)) END AS tv_drift
         |  FROM tots t JOIN num ON num.source = t.source)
         |SELECT source, na_total, nb_total, n_buckets_hit, tv_drift,
         |  CASE WHEN tv_drift IS NOT NULL
         |    THEN tv_drift > """.stripMargin + DriftTau + raw""" END AS drifted
         |FROM f ORDER BY source
         |""".stripMargin)))
}
