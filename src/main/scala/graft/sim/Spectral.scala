package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.util.Checkpoints

/** Spectral embedding analysis: exact fixed-point covariance and a
  * PCA top-component projection — the "what direction does this
  * corpus vary in" primitives behind embedding whitening, anisotropy
  * diagnostics (all-but-the-top), and cheap 1-D curriculum ordering.
  *
  * Reference scope: the reference pipeline stops at SQL aggregates
  * (`dags/taxi_transform_dag.py:38-100` — means over a cleaned
  * table); this module extends the same "describe the corpus with
  * one scan" idea to second moments of the embedding table, the
  * north-star direction the brief names (training-data pipeline ops
  * beyond the reference's own operators).
  *
  * Both queries are float-free until the last expression (the module
  * discipline proven by q143/q164): components round to 10-bit fixed
  * point (`round(x·1024)`, the cross-engine `round` contract), all
  * sums/products are exact BIGINTs, and the only doubles ever emitted
  * are single IEEE expressions over those integers — so DuckDB
  * replays every row bit-for-bit.
  *
  * Scale shape (the 100 TB argument):
  *   - q176 is ONE corpus scan with a map-side pair expansion
  *     (dim·(dim+1)/2 = 2080 structs per vector) feeding a hash
  *     partial aggregate keyed by (i, j) — the shuffle carries at
  *     most 2080 rows per map partition, and the result relation is
  *     2080 rows at ANY corpus size. No self-join, no corpus-keyed
  *     shuffle.
  *   - q177's power iteration runs on the COLLECTED 2080-row matrix
  *     (driver-bounded by dim², the bloom-words/BPE-argmax
  *     precedent: constant-size state, never corpus-sized), and the
  *     projection pass is one corpus scan with the eigenvector as a
  *     64-long literal inside a codegen'd `zip_with` dot — the
  *     q173 centroid-literal shape: no join, no shuffle.
  *
  * Overflow bounds (documented, guarded): with unit-norm embeddings
  * the fixed components |r| ≲ 2¹⁰, so the centered covariance
  * integers |n·s_ij − s_i·s_j| ≤ 2²¹·n², which crosses BIGINT near
  * n ≈ 2×10⁹ vectors — q176's raw sums are safe to n ≈ 2⁴³. The
  * iteration matrix is pre-shrunk to < 2³⁰ (arithmetic shift, the
  * q171 `>>` cross-engine contract) and the vector held at ≤ 2²⁰, so
  * every mat-vec partial stays under 2⁵⁶. [[CovMaxN]] fails loudly
  * (raise_error on the 2080-row relation) past the centered bound;
  * beyond it, widen to per-shard decimal accumulation.
  */
object Spectral extends QueryModule {

  /** 10-bit fixed point — the q143/q164 quantization contract. */
  val Fp = 1024

  /** Embedding width (matches [[Similarity.Dim]]). */
  val Dim = 64

  /** Power-iteration count: enough for a clear dominant direction on
    * label-structured corpora; correctness does not depend on
    * convergence (both engines run the SAME T steps). */
  val PcaIters = 12

  /** Iteration vector scale: components held in [−2²⁰, 2²⁰]. */
  val PcaScale: Long = 1L << 20

  /** Pre-shrink target for the iteration matrix: < 2³⁰ per entry. */
  val ShrinkBits = 30

  /** Loud-failure ceiling for the centered-covariance integers
    * (2²¹·n² ≤ 2⁶² ⇒ n ≤ 2²⁰·√2 ≈ 1.4×10⁶ is conservative-safe;
    * kept at 10⁶ with margin for non-unit vectors). */
  val CovMaxN: Long = 1000000L

  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** The fixed-point component array — shared by both queries. */
  private def rfx: Column =
    expr(s"transform(embedding, x -> " +
      s"CAST(round(CAST(x AS DOUBLE) * $Fp) AS BIGINT))")

  /** q176: exact fixed-point second-moment matrix — for every
    * dimension pair i ≤ j: the count, component sums and
    * cross-product sum over the whole corpus. Centered covariance,
    * correlation, and the PCA iteration all derive from these four
    * integers without touching the corpus again (cov_ij ∝
    * n·s_ij − s_i·s_j).
    *
    * Plan: one scan → map-side expansion of the 2080 (i, j) pairs
    * per vector → hash partial agg on (i, j). The exploded relation
    * never shuffles; only the 2080 per-partition partials do. */
  def covarianceMatrix(s: SparkSession, dir: String): DataFrame = {
    // r14 optimization: the dim-pair explode materialized 2080 struct
    // rows PER VECTOR (4.16M at sf0.1) into a 2080-key hash
    // aggregate. [[graft.functions.CovMoments]] accumulates the same
    // BIGINT multiply-adds into one flat constant-size buffer per
    // task (mergeable partials, one corpus scan, no row expansion);
    // integer addition is order-independent, so every (n, s_i, s_j,
    // s_ij) cell is bit-identical to the explode spelling. The 2080
    // output rows unfold from the single moments array via a literal
    // triangle-index map (k = i·Dim − i(i−1)/2 + (j−i)).
    val cm = udaf(new graft.functions.CovMoments(Dim),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Long]]())
    val m = corpus(s, dir).select(rfx.as("r")).agg(cm(col("r")).as("m"))
    m.select(explode(expr(
        s"""flatten(transform(sequence(0, ${Dim - 1}), i ->
           |  transform(sequence(i, ${Dim - 1}), j ->
           |    struct(i AS i, j AS j,
           |      CAST(i * ${Dim} - (i * (i - 1)) DIV 2 + (j - i)
           |        AS INT) AS k))))
           |""".stripMargin)).as("p"), col("m"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        element_at(col("m"), lit(1)).as("n"),
        element_at(col("m"), col("p.i") + lit(2)).as("s_i"),
        element_at(col("m"), col("p.j") + lit(2)).as("s_j"),
        element_at(col("m"), col("p.k") + lit(2 + Dim)).as("s_ij"))
      .orderBy("i", "j")
  }

  /** Bit length with `bin()` semantics on both engines:
    * blen(0) = 1 (DuckDB `length(bin(0))` = 1), else ⌊log₂ x⌋ + 1. */
  private def blen(x: Long): Int =
    if (x == 0L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(x)

  /** Driver-side power iteration — EXACTLY the integer/shift
    * arithmetic the oracle unrolls in SQL (Scala `>>` on Long is the
    * same arithmetic shift as DuckDB's `>>`, the q171 contract).
    * Input: the 2080 upper-triangle rows of [[covarianceMatrix]].
    * Returns the L∞-normalized dominant eigenvector of the CENTERED
    * covariance, components in [−2²⁰, 2²⁰]. */
  private[graft] def powerIterate(
      rows: Seq[(Int, Int, Long, Long, Long, Long)]): Array[Long] = {
    val c = Array.ofDim[Long](Dim, Dim)
    rows.foreach { case (i, j, n, si, sj, sij) =>
      require(n <= CovMaxN,
        s"pcaProject: corpus has $n vectors — past the $CovMaxN " +
          "BIGINT bound for centered fixed-point covariance; widen " +
          "to per-shard decimal accumulation")
      val v = n * sij - si * sj
      c(i)(j) = v
      c(j)(i) = v
    }
    val maxAbsC = c.flatten.map(math.abs).max
    val cs = math.max(0, blen(maxAbsC) - ShrinkBits)
    val a = c.map(_.map(_ >> cs))
    // seed at the max-variance axis (ties → min d): Rayleigh quotient
    // then starts at max_d var(d) and power iteration only raises it
    val seed = (0 until Dim).maxBy(d => (a(d)(d), -d))
    var v = Array.tabulate(Dim)(d => if (d == seed) PcaScale else 0L)
    var it = 0
    while (it < PcaIters) {
      val w = Array.tabulate(Dim) { i =>
        var acc = 0L
        var j = 0
        while (j < Dim) { acc += a(i)(j) * v(j); j += 1 }
        acc
      }
      val mw = w.map(math.abs).max
      val sh = math.max(0, blen(mw) - 20)
      v = w.map(_ >> sh)
      it += 1
    }
    v
  }

  /** q177: PCA top-component projection — every embedding scored
    * along the corpus's dominant variance direction, as one exact
    * integer dot per vector. The downstream uses are standard:
    * subtract it for anisotropy correction ("all-but-the-top"),
    * sort by it for a 1-D curriculum, or range-partition on it as a
    * cheap spatial split. Emits (vec_id, label, pc1_fp) with
    * pc1_fp = Σ_d r_d·v_d (|pc1_fp| ≤ 64·2¹⁰·2²⁰ = 2³⁶).
    *
    * The eigenvector derivation is deterministic integer arithmetic
    * end to end (fixed seed axis, shift-only renormalization), so
    * the oracle replays the ENTIRE derivation — covariance, shrink,
    * T unrolled mat-vec/normalize steps, projection — in DuckDB SQL
    * and the hash gate covers the whole path, not just the final
    * scan. */
  def pcaProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cov = covarianceMatrix(s, dir)
      .as[(Int, Int, Long, Long, Long, Long)].collect().toSeq
    val v = powerIterate(cov)
    val vLit = s"array(${v.mkString("L, ") + "L"})"
    corpus(s, dir)
      .select(col("vec_id"), col("label"), rfx.as("r"))
      .select(col("vec_id"), col("label"),
        expr(s"aggregate(zip_with(r, $vLit, (p, q) -> p * q), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("pc1_fp"))
      .orderBy("vec_id")
  }

  /** PageRank iteration count (unrolled identically in the oracle). */
  val PrIters = 8

  /** Rank fixed point: every node starts at 2¹⁶; the damped update is
    * r' = ⌊0.15·2¹⁶⌋ + ⌊85·inflow/100⌋ — all positive integers, so
    * truncating and flooring division agree across engines. */
  val PrScale = 65536L
  val PrBase = 9830L // ⌊0.15 · 2¹⁶⌋

  /** q180: PageRank centrality over the q155 semantic kNN graph —
    * "which documents are REPRESENTATIVE of their neighborhood": the
    * damped stationary-mass iteration on the k-out-degree similarity
    * graph, the standard graph-centrality selection signal (pick
    * high-PR docs per topic for coverage; low-PR isolates are
    * outliers q129 flags geometrically). PageRank IS a dominant-
    * eigenvector computation (of the Google matrix), so the module's
    * q177 discipline applies unchanged: all-integer updates
    * (positive values — DIV is floor on both engines), fixed
    * iteration count, oracle replays every step.
    *
    * Scale shape: edges are k·n rows (q155's bounded out-degree —
    * at 100 TB the banded graph path feeds the same shape); each of
    * the [[PrIters]] rounds is one src-keyed join + one dst-keyed
    * partial-agg shuffle of the edge relation, both AQE-sized and
    * unhinted. The rank relation is n rows — never collected; this
    * operator is genuinely distributed (unlike q177's dim²-bounded
    * driver step). Overflow: inflow < Σr ≈ n·2¹⁶, so 85·inflow
    * crosses BIGINT near n ≈ 10⁹ nodes per partition-disjoint graph;
    * past that, widen the damping to a shift (85/100 → 7/8 via `>>3`)
    * or drop [[PrScale]]. */
  def pagerankCentrality(s: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.knnGraphZone(s, dir)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val nodes = corpus(s, dir).select(col("vec_id").as("id"))
    pagerankIterate(nodes, edges)
      .select(col("id").as("vec_id"), col("r").as("pr_fp"))
      .orderBy("vec_id")
  }

  /** The damped integer iteration on an arbitrary (id) / (src, dst)
    * graph — exposed for SpectralSpec's synthetic-hub contract. */
  private[graft] def pagerankIterate(nodes: DataFrame,
                                     edges0: DataFrame): DataFrame = {
    val deg = edges0.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val edges = edges0.join(deg, "src")
    var ranks = nodes.select(col("id"), lit(PrScale).as("r"))
    var it = 0
    while (it < PrIters) {
      val inflow = edges.join(ranks, edges("src") === ranks("id"))
        .select(col("dst"), expr("r div odeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = nodes
        .join(inflow, nodes("id") === inflow("dst"), "left")
        .select(col("id"),
          (lit(PrBase) +
            expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100"))
            .as("r"))
      it += 1
    }
    ranks
  }

  /** q275/q276's trusted-seed rule: a document is a curation seed iff
    * its salted 60-bit hash lands in residue 0 mod [[SeedMod]] — the
    * q102 deterministic-hash-assignment discipline standing in for
    * "the editorially vetted slice" (Wikipedia/reference docs in a
    * web corpus). ≈5% of the corpus, decided row-locally. */
  val SeedMod = 20
  /** q275's relaxation budget: exactly this many synchronous
    * min-plus rounds in BOTH engines — distance semantics are
    * "within [[BfsRounds]] hops", a contract, not a fixpoint race. */
  val BfsRounds = 4

  private def seedPred(idCol: Column): Column = {
    import graft.dedup.Md5Prefix
    pmod(Md5Prefix.h(concat(idCol.cast("string"), lit("|seed"))),
      lit(SeedMod.toLong)) === 0L
  }

  /** q285's constants. */
  val RaScale = 1L << 16
  val RaTopK = 100

  /** q285: link prediction on the semantic kNN graph via the
    * RESOURCE-ALLOCATION index (Zhou, Lü & Zhang 2009) — for every
    * non-adjacent pair at distance 2, RA = Σ_{z ∈ N(x)∩N(y)} 1/deg(z),
    * the "which documents should be neighbors but aren't" signal
    * behind graph densification and retrieval-expansion. RA is chosen
    * over Adamic–Adar deliberately: AA's 1/log deg is transcendental
    * (not correctly rounded — the cross-engine drift the float
    * discipline forbids), while RA's 1/deg is exactly rational —
    * scaled to [[RaScale]] div deg, bit-identical in both engines.
    * Common-neighbor count rides along; top-[[RaTopK]] by
    * (ra_fp DESC, id1, id2) is a total order.
    *
    * Scale shape: two-hop enumeration through each middle vertex z
    * costs deg(z)² — and on the k-bounded kNN graph deg ≤ 2k, so the
    * candidate relation is ≤ (2k)²·n rows, key-partitioned by z (no
    * self-join on an unbounded-degree graph: a web graph would need
    * the q273 df-band discipline on hub vertices first). The
    * existing-edge exclusion is one anti-join against the same edge
    * zone. */
  def linkPrediction(s: SparkSession, dir: String): DataFrame = {
    // a root, not the undZone memo: all 4 consumers are in THIS query,
    // and in-memory blocks beat 4 re-opened parquet scans (probed r15:
    // 0.44 → 0.77 s as a zone — reverted)
    val und = Checkpoints.root(
      undirected(Similarity.knnGraphZone(s, dir))) // 4 consumers below
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val cand = und.select(col("src").as("x"), col("dst").as("z"))
      .join(und.select(col("src").as("z"), col("dst").as("y")), "z")
      .where(col("x") < col("y"))
    val scored = cand
      .join(deg.select(col("src").as("z"), col("deg")), "z")
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr(s"$RaScale div deg")).as("ra_fp"))
    scored
      .join(und, scored("x") === und("src") && scored("y") === und("dst"),
        "left_anti")
      .select(col("x").as("id1"), col("y").as("id2"),
        col("common_neighbors"), col("ra_fp"))
      .orderBy(col("ra_fp").desc, col("id1"), col("id2"))
      .limit(RaTopK)
  }

  /** q275: hop distance to the nearest trusted seed over the
    * (undirected) semantic kNN graph — the "how far is this document
    * from vetted content" curation signal (GraphRank-style quality
    * propagation in its simplest exact form: min-plus BFS). Null
    * distance = not reachable within [[BfsRounds]] hops — at k-NN
    * degree and ~5% seeds that tail IS the isolate signal, kept as
    * null rather than a sentinel so downstream filters can't confuse
    * "far" with a real hop count.
    *
    * Scale shape: the q268 undirected-edge derivation (≤ 2·k·n rows,
    * derived once, rooted); each round is one src-keyed
    * join + one dst-keyed min rollup — the q180 iterate shape — and
    * the frontier relation is n rows, never collected. All-integer
    * min-plus arithmetic: nothing to drift cross-engine. */
  def seedDistance(s: SparkSession, dir: String): DataFrame = {
    // a root, not the undZone memo: consumed once per BFS round and
    // checkpoint blocks beat repeated parquet opens (probed r15: 1.02
    // → 1.69 s as a zone — reverted)
    val und = Checkpoints.root(
      undirected(Similarity.knnGraphZone(s, dir))) // once per round
    val nodes = corpus(s, dir).select(col("vec_id").as("id"))
    val dist0 = nodes
      .select(col("id"), when(seedPred(col("id")), lit(0L)).as("d"))
    bfsIterate(dist0, und)
      .select(col("id").as("vec_id"),
        seedPred(col("id")).as("is_seed"), col("d").as("hops"))
      .orderBy("vec_id")
  }

  /** The fixed-round min-plus relaxation on an arbitrary seeded
    * (id, d) frontier / undirected (src, dst) graph — exposed for
    * SpectralSpec's path-graph contract. */
  private[graft] def bfsIterate(dist0: DataFrame,
                                und: DataFrame): DataFrame =
    // session width, NOT the q232 round-width/AQE-gate treatment:
    // probed r15 a 1.49 → 1.98 s LOSS — these rounds' joins were
    // already AQE-broadcast-cheap, and the pinned single-partition
    // exchanges serialized them (it pays only where rounds run as
    // no-stats sort-merge at session width: kCore's semi-joins)
    Checkpoints.iterate("bfsIterate", dist0,
      Checkpoints.Rounds(BfsRounds)) { (dist, _) =>
      val relax = und
        .join(dist.where(col("d").isNotNull), col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("d") + lit(1L)).as("nd"))
      Some(dist.join(relax, dist("id") === relax("dst"), "left")
        .select(dist("id"),
          // least() null semantics differ across engines — spell the
          // three-way min explicitly and identically on both sides
          when(col("d").isNull, col("nd"))
            .when(col("nd").isNull, col("d"))
            .otherwise(least(col("d"), col("nd"))).as("d")))
    }

  /** q276: personalized PageRank from the seed set — q180's damped
    * integer iteration with teleport mass restricted to the trusted
    * seeds (Haveliwala 2002 topic-sensitive PageRank; the modern use
    * is LLM-corpus quality weighting: rank mass flows out of vetted
    * pages through semantic-similarity edges, and a document's PPR is
    * its "proximity-weighted endorsement" — the CommonCrawl-vs-
    * Wikipedia curation signal in exact arithmetic). Identical update
    * shape to [[pagerankIterate]]; the only change is the base term:
    * seeds get ⌊0.15·2¹⁶⌋, everyone else 0, so all mass traces back
    * to the seed slice.
    *
    * Scale shape: exactly q180's — per round one src-keyed join and
    * one dst-keyed partial-agg shuffle over the k·n edge relation,
    * rank state n rows, never collected; the seed predicate is
    * row-local hash arithmetic (no seed relation to join, let alone
    * broadcast). Overflow: strictly below q180's bound (total mass
    * only shrinks when teleport is restricted). */
  def personalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.knnGraphZone(s, dir)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val nodes = corpus(s, dir)
      .select(col("vec_id").as("id"), seedPred(col("vec_id")).as("seed"))
    pprIterate(nodes, edges)
      .select(col("id").as("vec_id"),
        seedPred(col("id")).as("is_seed"), col("r").as("ppr_fp"))
      .orderBy("vec_id")
  }

  /** The seed-teleport damped iteration on an arbitrary (id, seed) /
    * (src, dst) graph — exposed for SpectralSpec's mass-locality
    * contract. */
  private[graft] def pprIterate(nodes: DataFrame,
                                edges0: DataFrame): DataFrame = {
    val deg = edges0.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val edgesD = edges0.join(deg, "src")
    var ranks = nodes.select(col("id"),
      when(col("seed"), lit(PrScale)).otherwise(0L).as("r"))
    var it = 0
    while (it < PrIters) {
      val inflow = edgesD.join(ranks, edgesD("src") === ranks("id"))
        .select(col("dst"), expr("r div odeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = nodes
        .join(inflow, nodes("id") === inflow("dst"), "left")
        .select(nodes("id"),
          (when(col("seed"), lit(PrBase)).otherwise(0L) +
            expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100"))
            .as("r"))
      it += 1
    }
    ranks
  }

  // ---------------------------------------------------------------- oracle

  /** The q176 relation as DuckDB CTE body (shared by both oracles).
    * MATERIALIZED: DuckDB inlines plain CTEs per reference, and the
    * unrolled iteration chain references the matrix 12 times — the
    * expansion would re-open the parquet exponentially. */
  private val covSql: String =
    s"""u AS MATERIALIZED (
       |  SELECT vec_id, u.d, CAST(round(CAST(u.x AS DOUBLE) * $Fp)
       |    AS BIGINT) AS r
       |  FROM embeddings JOIN LATERAL (
       |    SELECT unnest(embedding) AS x,
       |      generate_subscripts(embedding, 1) - 1 AS d) u ON true),
       |cov AS MATERIALIZED (
       |  SELECT a.d AS i, b.d AS j, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(a.r) AS BIGINT) AS s_i,
       |    CAST(sum(b.r) AS BIGINT) AS s_j,
       |    CAST(sum(a.r * b.r) AS BIGINT) AS s_ij
       |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.d <= b.d
       |  GROUP BY 1, 2)""".stripMargin

  /** The unrolled power-iteration CTE chain: wK = A·v(K−1), then
    * shift-normalize to vK — generated from [[PcaIters]] so oracle
    * and Scala can never drift on the step count. */
  private def iterSql: String =
    (1 to PcaIters).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT a.i AS d, CAST(sum(a.a * v${k - 1}.v) AS BIGINT) AS w
         |  FROM a JOIN v${k - 1} ON v${k - 1}.d = a.j GROUP BY 1),
         |v$k AS MATERIALIZED (
         |  SELECT d, w >> greatest(0,
         |    (SELECT length(bin(max(abs(w)))) FROM w$k) - 20) AS v
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")

  /** The unrolled PageRank iteration CTEs (generated from
    * [[PrIters]] — step count can never drift between engines). */
  private def prIterSql: String =
    (1 to PrIters).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT e.neighbor_id AS id,
         |    CAST(sum(r.r // d.odeg) AS BIGINT) AS inflow
         |  FROM edges e
         |  JOIN r${k - 1} r ON r.id = e.query_id
         |  JOIN deg d ON d.src = e.query_id
         |  GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT n.id, $PrBase
         |    + (85 * coalesce(f.inflow, CAST(0 AS BIGINT))) // 100 AS r
         |  FROM nodes n LEFT JOIN f$k f ON f.id = n.id)""".stripMargin
    }.mkString(",\n")

  /** q275/q276's seed predicate as DuckDB text — generated from the
    * SAME [[SeedMod]] constant and the shared Md5Prefix spelling. */
  private def seedSqlFor(c: String): String =
    s"(('0x' || substr(md5(CAST($c AS VARCHAR) || '|seed'), 1, 15))" +
      s"::BIGINT % $SeedMod = 0)"

  /** The unrolled min-plus BFS rounds (generated from [[BfsRounds]] —
    * hop budget can never drift between engines). */
  private def bfsIterSql: String =
    (1 to BfsRounds).map { k =>
      s"""rx$k AS (
         |  SELECT u.dst AS id, CAST(min(d.d + 1) AS BIGINT) AS nd
         |  FROM und u JOIN d${k - 1} d ON d.id = u.src
         |  WHERE d.d IS NOT NULL GROUP BY 1),
         |d$k AS MATERIALIZED (
         |  SELECT p.id, CASE WHEN p.d IS NULL THEN r.nd
         |    WHEN r.nd IS NULL THEN p.d
         |    ELSE least(p.d, r.nd) END AS d
         |  FROM d${k - 1} p LEFT JOIN rx$k r ON r.id = p.id)"""
        .stripMargin
    }.mkString(",\n")

  /** The unrolled PPR rounds — q180's [[prIterSql]] with the
    * seed-restricted base term (same [[PrIters]]/[[PrBase]]). */
  private def pprIterSql: String =
    (1 to PrIters).map { k =>
      s"""pf$k AS MATERIALIZED (
         |  SELECT e.neighbor_id AS id,
         |    CAST(sum(r.r // d.odeg) AS BIGINT) AS inflow
         |  FROM edges e
         |  JOIN p${k - 1} r ON r.id = e.query_id
         |  JOIN deg d ON d.src = e.query_id
         |  GROUP BY 1),
         |p$k AS MATERIALIZED (
         |  SELECT n.id, (CASE WHEN n.seed THEN CAST($PrBase AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END)
         |    + (85 * coalesce(f.inflow, CAST(0 AS BIGINT))) // 100 AS r
         |  FROM nodes n LEFT JOIN pf$k f ON f.id = n.id)""".stripMargin
    }.mkString(",\n")

  /** q232's peel threshold and round budget. The peel runs on the
    * MUTUAL kNN graph (edge kept iff both directions exist) — the
    * symmetrized union is degenerate for k-core on a kNN graph
    * (out-degree is k by construction, so every node clears any
    * threshold ≤ k and none clears k+2: measured all-or-nothing at
    * sf0.01), while reciprocity varies per node (degrees 1..GraphK
    * here) and is the structure mutual-kNN clustering methods
    * actually peel. The Spark loop peels UNTIL STABLE (the survivor
    * set is monotone-shrinking, so an unchanged count IS the
    * fixpoint) and refuses loudly past [[CoreRounds]]; the oracle
    * unrolls exactly [[CoreRounds]] rounds — legal because peel
    * rounds past the fixpoint are no-ops, so both spellings meet at
    * the true k-core. */
  val CoreK = 3
  val CoreRounds = 16

  /** q232: k-core decomposition of the kNN graph — iterative peeling
    * (Seidman 1983): drop every node with fewer than K neighbors
    * among the survivors, simultaneously, until stable. The dense
    * core is the graph-curation counterpart of the q107/q156 cluster
    * consumers: embedding hubs keep, sparse periphery flags. Runs on
    * the MUTUAL edge relation of the q155 zone (see [[CoreK]] for why
    * the symmetrized union is the wrong graph here), so the graph
    * family shares one zone derivation.
    *
    * Scale shape: each round is two src/dst semi-joins + one degree
    * rollup, all key-partitioned on node id (the q180 iterate shape);
    * the survivor relation only shrinks. CRITICAL iteration rule: the
    * survivor set feeds TWO joins per round, so the lineage would
    * recompute 2^rounds times if left lazy — each round's survivors
    * (and the shared undirected relation) are eagerly rooted through
    * [[Checkpoints]], the single-app spelling of the ClusterMaint
    * per-round zone write (the q208 UnionLoop lesson).
    * Emits every node with its membership flag and in-core degree. */
  def kCore(s: SparkSession, dir: String): DataFrame = {
    val e = Similarity.knnGraphZone(s, dir)
    // mutual edges: one self-join on the reversed pair — symmetric by
    // construction, so no union/distinct pass is needed
    // consumed 2× per round — derive ONCE
    val und = Checkpoints.root(e.as("a").join(e.as("b"),
        col("a.query_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.query_id"), "left_semi")
      .select(col("query_id").as("src"), col("neighbor_id").as("dst")))
    val nodes = corpus(s, dir).select(col("vec_id").as("id"))
    // the CC round width + AQE gate (r15): the mutual edge set is
    // FIXED, so one count sizes every round's three exchanges; at
    // 100 TB it derives the session width and AQE stays on
    val parts = Checkpoints.partsForRows(s, und.count())
    def coreDeg(alive: DataFrame): DataFrame = und
      .repartition(parts, col("src"))
      .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
      .repartition(parts, col("dst"))
      .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .repartition(parts, col("src"))
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
    // survivors are read twice next round (rooted); monotone-shrinking
    // ⇒ equal count = fixpoint; past CoreRounds, raise it (and the unroll)
    val alive = Checkpoints.iterate("kCore", nodes,
      Checkpoints.UntilStable(CoreRounds),
      Checkpoints.FixedWidth(parts)) { (alive, _) =>
      Some(coreDeg(alive).where(col("d") >= CoreK)
        .select(col("src").as("id")))
    }
    val finalDeg = coreDeg(alive)
      .select(col("src").as("id"), col("d").as("deg_core"))
    nodes.join(alive.withColumn("in_core", lit(true)), Seq("id"), "left")
      .join(finalDeg, Seq("id"), "left")
      .select(col("id").as("vec_id"),
        coalesce(col("in_core"), lit(false)).as("in_core"),
        coalesce(col("deg_core"), lit(0L)).as("deg_core"))
      .orderBy("vec_id")
  }

  /** The unrolled peel rounds as DuckDB CTEs — generated from the
    * SAME constants the Spark loop uses. */
  private def coreIterSql: String =
    (1 to CoreRounds).map { r =>
      s"""d$r AS (
         |  SELECT u.src AS id, CAST(count(*) AS BIGINT) AS d
         |  FROM und u
         |  JOIN a${r - 1} x ON x.id = u.src
         |  JOIN a${r - 1} y ON y.id = u.dst
         |  GROUP BY 1),
         |a$r AS MATERIALIZED (SELECT id FROM d$r WHERE d >= $CoreK)"""
        .stripMargin
    }.mkString(",\n")

  /** q268's round budget: exactly [[LpRounds]] synchronous rounds in
    * BOTH engines. Unlike the k-core peel (monotone ⇒ fixpoint),
    * synchronous majority propagation can oscillate on near-bipartite
    * structure (Raghavan et al. 2007 §3), so "until stable" is not a
    * well-defined contract — the deterministic variant is a FIXED
    * round count, which also makes the oracle a finite unroll with no
    * post-fixpoint-no-op argument needed. */
  val LpRounds = 5

  /** q268: label-propagation communities on the kNN graph (Raghavan
    * et al. 2007, made deterministic): init label(v) = v; each round,
    * every node simultaneously adopts the label carried by MOST of
    * its neighbors, ties to the smallest label, isolated nodes keep
    * their own; after [[LpRounds]] rounds, emit each node's community
    * and its size. Communities differ from both existing clustering
    * views: q107/q156 merge only near-DUPLICATES (edges above a
    * similarity threshold), k-means partitions by centroid distance —
    * LPA finds DENSITY regions of the same k-bounded graph the
    * PageRank/k-core/triangle family already shares, completing the
    * graph-analytics zone's consumer set.
    *
    * Runs on the symmetrized UNION of the q155 zone (every kNN
    * relation votes, reciprocal or not — contrast [[kCore]], where
    * the union graph is degenerate because out-degree is k by
    * construction; majority VOTING has no such degeneracy).
    *
    * Scale shape: per round, one edge⋈label join + one (node, label)
    * count + one per-node argmax — all key-partitioned with k-bounded
    * fan-in (≤ 2k votes/node), never a corpus broadcast; round state
    * is eagerly rooted (the q232/q208 lineage rule).
    * Deterministic argmax = row_number over (count DESC, label ASC),
    * the shared cross-engine tie-break idiom. */
  def labelProp(s: SparkSession, dir: String): DataFrame = {
    val labels = lpLabelsZone(s, dir)
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("csize"))
    labels.join(sizes, "lbl")
      .select(col("id").as("vec_id"), col("lbl").as("community"),
        col("csize"))
      .orderBy("vec_id")
  }

  /** The fixed-round propagation on an arbitrary (id) / undirected
    * (src, dst) graph — exposed for SpectralSpec's two-clique
    * contract. */
  private[graft] def labelPropIterate(nodes: DataFrame,
                                      und: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // each round's labels are read twice next round (+ final sizes)
    Checkpoints.iterate("labelPropIterate",
      nodes.withColumn("lbl", col("id")),
      Checkpoints.Rounds(LpRounds)) { (labels, _) =>
      val votes = und
        .join(labels.select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
      val win = Window.partitionBy(col("src"))
        .orderBy(col("cnt").desc, col("lbl"))
      val best = votes.withColumn("rn", row_number().over(win))
        .where(col("rn") === 1)
        .select(col("src").as("id"), col("lbl").as("nlbl"))
      Some(labels.join(best, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("nlbl"), col("lbl")).as("lbl")))
    }
  }

  /** The [[undirected]] q155 kNN graph, read by q268/q288/q300, so it
    * is a [[graft.util.Scratch]] zone (guide §2.4
    * one-derivation-many-consumers), not a per-query root: ONE
    * union+distinct per application, every consumer scans the stored
    * ≤2k·n-row relation. Deterministic function of (dir, GraphK) — the
    * memo contract. */
  private def undZone(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "knn-und",
      s"knn-und:$dir:${Similarity.GraphK}")(
      undirected(Similarity.knnGraphZone(s, dir)))

  /** The symmetrized DISTINCT (src, dst) edge set of a directed kNN
    * edge relation (query_id → neighbor_id) — the one derivation
    * behind the `knn-und` zone and the in-query roots of q275, q285
    * and q289. */
  private def undirected(e: DataFrame): DataFrame =
    e.select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .union(e.select(col("neighbor_id").as("src"),
        col("query_id").as("dst")))
      .distinct()

  /** The q268 label relation (node → LP community label) — consumed
    * by q268 (sizes), q288 (modularity) and q300 (purity), each of
    * which previously re-ran the full [[LpRounds]]-round propagation.
    * Deterministic: every round's argmax is a total order
    * (cnt DESC, lbl ASC), so the label SET is a pure function of
    * (dir, GraphK, LpRounds) and memoizes safely. */
  private def lpLabelsZone(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "lp-labels",
      s"lp-labels:$dir:${Similarity.GraphK}:$LpRounds") {
      labelPropIterate(
        corpus(s, dir).select(col("vec_id").as("id")),
        undZone(s, dir))
    }

  /** The unrolled propagation rounds as DuckDB CTEs — generated from
    * the SAME [[LpRounds]] constant the Spark loop uses. */
  private def lpIterSql: String =
    (1 to LpRounds).map { r =>
      s"""c$r AS (
         |  SELECT u.src, l.lbl, CAST(count(*) AS BIGINT) AS cnt
         |  FROM und u JOIN l${r - 1} l ON l.id = u.dst
         |  GROUP BY 1, 2),
         |b$r AS (
         |  SELECT src AS id, lbl FROM (
         |    SELECT src, lbl, row_number() OVER (PARTITION BY src
         |      ORDER BY cnt DESC, lbl) AS rn FROM c$r)
         |  WHERE rn = 1),
         |l$r AS MATERIALIZED (
         |  SELECT p.id, coalesce(b.lbl, p.lbl) AS lbl
         |  FROM l${r - 1} p LEFT JOIN b$r b ON b.id = p.id)"""
        .stripMargin
    }.mkString(",\n")

  /** q288: modularity of the q268 label-propagation communities
    * (Newman & Girvan 2004) — THE partition-quality score: per
    * community c, Q_c = L_c/m − (d_c/2m)², all inputs exact BIGINTs
    * over the undirected edge relation (intra2 counts each intra
    * edge twice, m2 = 2m, so Q_c = (intra2/m2) − (dsum/m2)² is ONE
    * final IEEE expression per row — the q277 exit rule). Together
    * with q268 this closes the loop: the communities AND the number
    * that says whether they are better than chance.
    *
    * Scale shape: the label relation (one q268 derivation) joins the
    * edge relation twice (src- then dst-keyed — two key shuffles over
    * ≤2kn rows); degree and community rollups are partial-agg shapes;
    * the 1-row m2 total is the sanctioned constant broadcast. */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    val und = undZone(s, dir) // zone scan — 3 consumers below
    val labels = lpLabelsZone(s, dir) // zone scan — joined twice
    val m2 = und.agg(count(lit(1)).as("m2"))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val dsum = labels.join(deg, labels("id") === deg("src"), "left")
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("csize"),
        sum(coalesce(col("deg"), lit(0L))).as("dsum"))
    val intra = und
      .join(labels.select(col("id").as("src"), col("lbl").as("ls")),
        "src")
      .join(labels.select(col("id").as("dst"), col("lbl").as("ld")),
        "dst")
      .where(col("ls") === col("ld"))
      .groupBy(col("ls").as("lbl"))
      .agg(count(lit(1)).as("intra2"))
    dsum.join(intra, Seq("lbl"), "left")
      .select(col("lbl"), col("csize"), col("dsum"),
        coalesce(col("intra2"), lit(0L)).as("intra2"))
      .crossJoin(broadcast(m2))
      .select(col("lbl").as("community"), col("csize"),
        col("intra2"), col("dsum"), col("m2"),
        (col("intra2").cast("double") / col("m2").cast("double")
          - (col("dsum").cast("double") / col("m2").cast("double"))
          * (col("dsum").cast("double") / col("m2").cast("double")))
          .as("q_c"))
      .orderBy("community")
  }

  /** q289: degree assortativity of the kNN graph (Newman 2002) —
    * Pearson correlation of endpoint degrees over the undirected
    * edge list: positive = hubs link hubs (social-graph shape),
    * negative = hubs link leaves (star/hub-spoke — what a
    * boilerplate-heavy near-dup graph looks like). Exact power sums
    * (n, Σx, Σy, Σx², Σy², Σxy — degrees are ≤2k-bounded so products
    * are safe BIGINTs), ONE final IEEE expression (the q277 rule;
    * sqrt is correctly rounded).
    *
    * Scale shape: degree rollup + two src/dst-keyed joins to tag
    * each edge with its endpoint degrees, then one partial-agg
    * reduction to a single row. */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    // a root, not the undZone memo (probed r15: 0.37 → 0.48 s as a
    // zone — reverted; 3 in-query consumers)
    val und = Checkpoints.root(
      undirected(Similarity.knnGraphZone(s, dir))) // degree + both tags
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val tagged = und
      .join(deg.select(col("src"), col("deg").as("x")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("y")),
        "dst")
    tagged
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n"), col("sx"), col("sy"), col("sxx"),
        col("syy"), col("sxy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double")))).as("r"))
  }

  /** q300: purity of the q268 communities against the SOURCE label —
    * the log-free member of the external clustering-eval family
    * (q237's Rand index needs no ground truth; purity does, and the
    * synthetic corpus aligns vec_id with doc_id so `source` is the
    * truth column): purity = Σ_c max_class |c ∩ class| / n, every
    * term an exact count, ONE final division. Per-community rows
    * (majority class, its share) plus the corpus-level numerator so
    * the scalar is reconstructible.
    *
    * Scale shape: one label derivation (q268's), one doc-keyed join
    * to the source column, a (community, class) rollup, and a
    * per-community argmax window over ≤|communities|·|classes| rows. */
  def clusterPurity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = lpLabelsZone(s, dir)
    val truth = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("source"))
    val cells = labels.join(truth, "id")
      .groupBy(col("lbl"), col("source"))
      .agg(count(lit(1)).as("nij"))
    val w = Window.partitionBy(col("lbl"))
      .orderBy(col("nij").desc, col("source"))
    cells
      .withColumn("csize", sum(col("nij"))
        .over(Window.partitionBy(col("lbl"))))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("lbl").as("community"), col("csize"),
        col("source").as("majority_source"),
        col("nij").as("n_majority"),
        (col("nij").cast("double") / col("csize").cast("double"))
          .as("purity"))
      .orderBy("community")
  }

  /** q306: kNN homophily by source — for each source, the fraction
    * of its documents' nearest-neighbor edges that stay WITHIN the
    * source: the quick "does the embedding space respect provenance"
    * diagnostic (q300's purity asks it of discovered communities;
    * this asks it of the raw neighborhood structure, no clustering
    * in between). Exact counts, ONE final division per source.
    *
    * Scale shape: two id-keyed label joins over the ≤k·n directed
    * edge relation and a source rollup — nothing else. */
  def knnHomophily(s: SparkSession, dir: String): DataFrame = {
    val truth = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    Similarity.knnGraphZone(s, dir)
      .select(col("query_id"), col("neighbor_id"))
      .join(truth.select(col("doc_id").as("query_id"),
        col("source").as("src_source")), "query_id")
      .join(truth.select(col("doc_id").as("neighbor_id"),
        col("source").as("dst_source")), "neighbor_id")
      .groupBy(col("src_source").as("source"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("src_source") === col("dst_source"), 1L)
          .otherwise(0L)).as("n_same"))
      .select(col("source"), col("n_edges"), col("n_same"),
        (col("n_same").cast("double") / col("n_edges").cast("double"))
          .as("homophily"))
      .orderBy("source")
  }

  /** q237: Rand index between two INDEPENDENT clusterings of the same
    * corpus — the q173 k-means topics vs the q107 SRP-LSH connected
    * components: the standard "do two unsupervised views agree"
    * diagnostic, and the pure-integer member of the clustering-eval
    * family (agreement pairs need no logs: Rand = agreeing pairs /
    * all pairs, from the contingency table's C(n,2) sums — every term
    * exact BIGINT, ONE final double division).
    *
    * Scale shape: one vec-keyed join of the two label relations → a
    * contingency rollup (≤ |k₁|·|k₂| rows) → constant-size sums; the
    * label derivations ride their own memoized zones. */
  def randIndex(s: SparkSession, dir: String): DataFrame = {
    val a = KMeans.kmeansTopics(s, dir)
      .select(col("vec_id"), col("cluster").as("c1"))
    val b = Similarity.embeddingClusters(s, dir)
      .select(col("vec_id"), col("cluster_id").as("c2"))
    val ct = a.join(b, "vec_id")
      .groupBy(col("c1"), col("c2")).agg(count(lit(1)).as("nij"))
    val cells = ct.agg(sum(col("nij")).as("n"),
      sum(expr("(nij * (nij - 1)) div 2")).as("s_cells"))
    val rows = ct.groupBy(col("c1")).agg(sum(col("nij")).as("m"))
      .agg(sum(expr("(m * (m - 1)) div 2")).as("s_rows"))
    val cols = ct.groupBy(col("c2")).agg(sum(col("nij")).as("m"))
      .agg(sum(expr("(m * (m - 1)) div 2")).as("s_cols"))
    cells.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
      .select(col("n"), col("s_cells"), col("s_rows"), col("s_cols"),
        (expr("(n * (n - 1)) div 2") + lit(2L) * col("s_cells")
          - col("s_rows") - col("s_cols")).as("n_agree"),
        ((expr("(n * (n - 1)) div 2") + lit(2L) * col("s_cells")
          - col("s_rows") - col("s_cols")).cast("double") /
          expr("(n * (n - 1)) div 2").cast("double")).as("rand_index"))
  }

  lazy val records: Seq[Query] = Seq(
    Query("q306_knn_homophily", knnHomophily(_, _),
      s"""WITH ${Similarity.knnEdgesSql}
         |SELECT a.source, CAST(count(*) AS BIGINT) AS n_edges,
         |  CAST(sum(CASE WHEN a.source = b.source THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_same,
         |  CAST(sum(CASE WHEN a.source = b.source THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS homophily
         |FROM edges e
         |JOIN documents a ON a.doc_id = e.query_id
         |JOIN documents b ON b.doc_id = e.neighbor_id
         |GROUP BY 1 ORDER BY a.source""".stripMargin),
    Query("q300_cluster_purity", clusterPurity(_, _),
      s"""WITH ${Similarity.knnEdgesSql},
         |und AS MATERIALIZED (
         |  SELECT query_id AS src, neighbor_id AS dst FROM edges
         |  UNION
         |  SELECT neighbor_id AS src, query_id AS dst FROM edges),
         |l0 AS MATERIALIZED (
         |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings),
         |$lpIterSql,
         |cells AS (
         |  SELECT l.lbl, d.source, CAST(count(*) AS BIGINT) AS nij
         |  FROM l$LpRounds l JOIN documents d ON d.doc_id = l.id
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT lbl, source, nij,
         |    CAST(sum(nij) OVER (PARTITION BY lbl) AS BIGINT) AS csize,
         |    row_number() OVER (PARTITION BY lbl
         |      ORDER BY nij DESC, source) AS rn
         |  FROM cells)
         |SELECT lbl AS community, csize, source AS majority_source,
         |  nij AS n_majority,
         |  CAST(nij AS DOUBLE) / CAST(csize AS DOUBLE) AS purity
         |FROM rk WHERE rn = 1 ORDER BY community""".stripMargin),
    Query("q288_modularity", modularity(_, _),
      s"""WITH ${Similarity.knnEdgesSql},
         |und AS MATERIALIZED (
         |  SELECT query_id AS src, neighbor_id AS dst FROM edges
         |  UNION
         |  SELECT neighbor_id AS src, query_id AS dst FROM edges),
         |l0 AS MATERIALIZED (
         |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings),
         |$lpIterSql,
         |m2t AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und),
         |deg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM und GROUP BY 1),
         |ds AS (
         |  SELECT l.lbl, CAST(count(*) AS BIGINT) AS csize,
         |    CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS dsum
         |  FROM l$LpRounds l LEFT JOIN deg d ON d.src = l.id
         |  GROUP BY 1),
         |intra AS (
         |  SELECT a.lbl, CAST(count(*) AS BIGINT) AS intra2
         |  FROM und u
         |  JOIN l$LpRounds a ON a.id = u.src
         |  JOIN l$LpRounds b ON b.id = u.dst
         |  WHERE a.lbl = b.lbl GROUP BY 1)
         |SELECT ds.lbl AS community, ds.csize,
         |  coalesce(i.intra2, CAST(0 AS BIGINT)) AS intra2,
         |  ds.dsum, m2t.m2,
         |  CAST(coalesce(i.intra2, 0) AS DOUBLE) / CAST(m2t.m2 AS DOUBLE)
         |    - (CAST(ds.dsum AS DOUBLE) / CAST(m2t.m2 AS DOUBLE))
         |    * (CAST(ds.dsum AS DOUBLE) / CAST(m2t.m2 AS DOUBLE))
         |    AS q_c
         |FROM ds LEFT JOIN intra i ON i.lbl = ds.lbl, m2t
         |ORDER BY community""".stripMargin),
    Query("q289_assortativity", assortativity(_, _),
      s"""WITH ${Similarity.knnEdgesSql},
         |und AS MATERIALIZED (
         |  SELECT query_id AS src, neighbor_id AS dst FROM edges
         |  UNION
         |  SELECT neighbor_id AS src, query_id AS dst FROM edges),
         |deg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM und GROUP BY 1),
         |tg AS (
         |  SELECT dx.deg AS x, dy.deg AS y
         |  FROM und u
         |  JOIN deg dx ON dx.src = u.src
         |  JOIN deg dy ON dy.src = u.dst),
         |sm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM tg)
         |SELECT n, sx, sy, sxx, syy, sxy,
         |  CAST(n * sxy - sx * sy AS DOUBLE)
         |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
         |FROM sm""".stripMargin),
    Query("q285_link_prediction", linkPrediction(_, _),
      s"""WITH ${Similarity.knnEdgesSql},
         |und AS MATERIALIZED (
         |  SELECT query_id AS src, neighbor_id AS dst FROM edges
         |  UNION
         |  SELECT neighbor_id AS src, query_id AS dst FROM edges),
         |deg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM und GROUP BY 1),
         |cand AS (
         |  SELECT a.src AS x, a.dst AS z, b.dst AS y
         |  FROM und a JOIN und b ON b.src = a.dst
         |  WHERE a.src < b.dst),
         |sc AS (
         |  SELECT c.x, c.y,
         |    CAST(count(*) AS BIGINT) AS common_neighbors,
         |    CAST(sum($RaScale // d.deg) AS BIGINT) AS ra_fp
         |  FROM cand c JOIN deg d ON d.src = c.z
         |  GROUP BY 1, 2)
         |SELECT sc.x AS id1, sc.y AS id2, common_neighbors, ra_fp
         |FROM sc
         |WHERE NOT EXISTS (SELECT 1 FROM und u
         |  WHERE u.src = sc.x AND u.dst = sc.y)
         |ORDER BY ra_fp DESC, id1, id2 LIMIT $RaTopK""".stripMargin),
    Query("q275_seed_distance", seedDistance(_, _),
      s"""WITH ${Similarity.knnEdgesSql},
         |und AS MATERIALIZED (
         |  SELECT query_id AS src, neighbor_id AS dst FROM edges
         |  UNION
         |  SELECT neighbor_id AS src, query_id AS dst FROM edges),
         |d0 AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |    CASE WHEN ${seedSqlFor("vec_id")}
         |      THEN CAST(0 AS BIGINT) END AS d
         |  FROM embeddings),
         |$bfsIterSql
         |SELECT id AS vec_id, ${seedSqlFor("id")} AS is_seed,
         |  d AS hops
         |FROM d$BfsRounds ORDER BY vec_id""".stripMargin),
    Query("q276_personalized_pagerank", personalizedPagerank(_, _),
      s"""WITH ${Similarity.knnEdgesSql},
         |nodes AS MATERIALIZED (
         |  SELECT vec_id AS id, ${seedSqlFor("vec_id")} AS seed
         |  FROM embeddings),
         |deg AS MATERIALIZED (
         |  SELECT query_id AS src, CAST(count(*) AS BIGINT) AS odeg
         |  FROM edges GROUP BY 1),
         |p0 AS MATERIALIZED (
         |  SELECT id, CASE WHEN seed THEN CAST($PrScale AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS r FROM nodes),
         |$pprIterSql
         |SELECT n.id AS vec_id, n.seed AS is_seed, p.r AS ppr_fp
         |FROM p$PrIters p JOIN nodes n ON n.id = p.id
         |ORDER BY vec_id""".stripMargin),
    Query("q268_label_prop", labelProp(_, _),
      s"""WITH ${Similarity.knnEdgesSql},
         |und AS MATERIALIZED (
         |  SELECT query_id AS src, neighbor_id AS dst FROM edges
         |  UNION
         |  SELECT neighbor_id AS src, query_id AS dst FROM edges),
         |l0 AS MATERIALIZED (
         |  SELECT vec_id AS id, vec_id AS lbl FROM embeddings),
         |$lpIterSql,
         |sz AS (
         |  SELECT lbl, CAST(count(*) AS BIGINT) AS csize
         |  FROM l$LpRounds GROUP BY 1)
         |SELECT l.id AS vec_id, l.lbl AS community, sz.csize
         |FROM l$LpRounds l JOIN sz ON sz.lbl = l.lbl
         |ORDER BY vec_id""".stripMargin),
    // both clusterings' EXISTING oracle strings embedded verbatim —
    // the agreement metric cannot drift from its inputs
    Query("q237_rand_index", randIndex(_, _),
      s"""WITH a AS MATERIALIZED (
         |  SELECT vec_id, cluster AS c1 FROM (
         |${graft.sim.KMeans.oracle("q173_kmeans_topics")}
         |  ) qa),
         |b AS MATERIALIZED (
         |  SELECT vec_id, cluster_id AS c2 FROM (
         |${Similarity.oracle("q107_embedding_clusters")}
         |  ) qb),
         |ct AS MATERIALIZED (
         |  SELECT c1, c2, CAST(count(*) AS BIGINT) AS nij
         |  FROM a JOIN b USING (vec_id) GROUP BY 1, 2),
         |cells AS (
         |  SELECT CAST(sum(nij) AS BIGINT) AS n,
         |    CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS s_cells
         |  FROM ct),
         |r AS (
         |  SELECT CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS s_rows
         |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS m FROM ct
         |        GROUP BY c1) t),
         |c AS (
         |  SELECT CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS s_cols
         |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS m FROM ct
         |        GROUP BY c2) t)
         |SELECT cells.n, cells.s_cells, r.s_rows, c.s_cols,
         |  ((cells.n * (cells.n - 1)) // 2 + 2 * cells.s_cells
         |    - r.s_rows - c.s_cols) AS n_agree,
         |  CAST((cells.n * (cells.n - 1)) // 2 + 2 * cells.s_cells
         |    - r.s_rows - c.s_cols AS DOUBLE)
         |    / CAST((cells.n * (cells.n - 1)) // 2 AS DOUBLE)
         |    AS rand_index
         |FROM cells, r, c""".stripMargin),
    Query("q232_kcore", kCore(_, _),
      s"""WITH ${Similarity.knnEdgesSql},
         |und AS MATERIALIZED (
         |  SELECT e1.query_id AS src, e1.neighbor_id AS dst
         |  FROM edges e1 JOIN edges e2
         |    ON e2.query_id = e1.neighbor_id
         |   AND e2.neighbor_id = e1.query_id),
         |nodes AS MATERIALIZED (SELECT vec_id AS id FROM embeddings),
         |a0 AS MATERIALIZED (SELECT id FROM nodes),
         |$coreIterSql,
         |df AS (
         |  SELECT u.src AS id, CAST(count(*) AS BIGINT) AS deg
         |  FROM und u
         |  JOIN a$CoreRounds x ON x.id = u.src
         |  JOIN a$CoreRounds y ON y.id = u.dst
         |  GROUP BY 1)
         |SELECT n.id AS vec_id, (a.id IS NOT NULL) AS in_core,
         |  coalesce(df.deg, CAST(0 AS BIGINT)) AS deg_core
         |FROM nodes n
         |LEFT JOIN a$CoreRounds a ON a.id = n.id
         |LEFT JOIN df ON df.id = n.id
         |ORDER BY vec_id""".stripMargin),
    Query("q176_embedding_covariance", covarianceMatrix(_, _),
      s"""WITH $covSql
         |SELECT i, j, n, s_i, s_j, s_ij FROM cov ORDER BY i, j
         |""".stripMargin),
    Query("q177_pca_project", pcaProject(_, _),
      s"""WITH $covSql,
         |cfull AS MATERIALIZED (
         |  SELECT i, j, n * s_ij - s_i * s_j AS c FROM cov
         |  UNION ALL
         |  SELECT j AS i, i AS j, n * s_ij - s_i * s_j AS c
         |  FROM cov WHERE i < j),
         |a AS MATERIALIZED (
         |  SELECT i, j, c >> greatest(0,
         |    (SELECT length(bin(max(abs(c)))) FROM cfull)
         |      - $ShrinkBits) AS a
         |  FROM cfull),
         |v0 AS MATERIALIZED (
         |  SELECT i AS d, CASE WHEN i = (
         |      SELECT i FROM a WHERE i = j ORDER BY a DESC, i LIMIT 1)
         |    THEN CAST($PcaScale AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS v
         |  FROM a WHERE i = j),
         |$iterSql
         |SELECT u.vec_id, e.label,
         |  CAST(sum(u.r * vv.v) AS BIGINT) AS pc1_fp
         |FROM u JOIN v$PcaIters vv ON vv.d = u.d
         |JOIN embeddings e ON e.vec_id = u.vec_id
         |GROUP BY 1, 2 ORDER BY u.vec_id
         |""".stripMargin),
    Query("q180_pagerank_centrality", pagerankCentrality(_, _),
      s"""WITH ${Similarity.knnEdgesSql},
         |nodes AS MATERIALIZED (SELECT vec_id AS id FROM embeddings),
         |deg AS MATERIALIZED (
         |  SELECT query_id AS src, CAST(count(*) AS BIGINT) AS odeg
         |  FROM edges GROUP BY 1),
         |r0 AS MATERIALIZED (
         |  SELECT id, CAST($PrScale AS BIGINT) AS r FROM nodes),
         |$prIterSql
         |SELECT id AS vec_id, r AS pr_fp FROM r$PrIters ORDER BY id
         |""".stripMargin))
}
