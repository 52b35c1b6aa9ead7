package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.util.Checkpoints

/** Similarity search over the `embeddings` table (unit-norm
  * `Array[Float]`, 64-dim → cosine ≡ dot product).
  *
  * Two paths, the same contract:
  *  - brute-force top-k: broadcast the (small) query set against the
  *    corpus — exact, O(|Q|·N·d), the baseline and the verifier;
  *  - SRP-LSH top-k: 16-bit sign-random-projection signatures, banded
  *    4×4 bits; candidates share ≥1 band with the query, then exact
  *    re-rank. At 100 TB the corpus-side signature is computed once at
  *    scan speed and the join is bucket-equality — never a cross join
  *    against the full corpus.
  *
  * All projections are deterministic (hash-derived ±1 matrices), so
  * results are reproducible across runs/cluster layouts — and the
  * float arithmetic is cross-engine replicable: [[graft.functions.FloatDot]]
  * multiplies in float and accumulates sequentially in double, which
  * DuckDB reproduces bit-exactly as
  * `list_reduce(list_prepend(0.0D, [a[i]*b[i] for i ...]), +)` (float
  * products widened per addition, same order). That makes the FULL
  * brute-force, SRP-LSH, and near-dup pipelines oracle-checkable —
  * signatures included, via the projection matrix spliced into the SQL
  * as a VALUES relation. IVF's k-means quantizer has no DuckDB
  * equivalent, so its gate entry (q53) runs in exact mode — `nProbe =
  * nCells` probes every cell, making the candidate set the full corpus
  * and the result bit-identical to q50's brute force — which exercises
  * the whole IVF pipeline (fit, assignment, probe ranking, cell join,
  * re-rank) under a hash-checkable oracle; the approximate nProbe <
  * nCells path keeps its measured-recall test in SimilaritySpec.
  */
object Similarity extends QueryModule {

  val Dim = 64
  val SigBits = 16
  val Bands = 4
  val BandBits: Int = SigBits / Bands

  /** Block size of the q52 pair expansion grid — each grid cell
    * expands at most PairBlock² candidate pairs in its own task. */
  val PairBlock = 1024

  /** Above this size an SRP band bucket switches from full triangle
    * expansion to STAR + CHAIN over the (sig, vec_id)-sorted bucket —
    * [[graft.dedup.Dedup.MaxLshBucket]]'s reasoning applied to the
    * embedding leg. A 4-bit band has only 16 bucket values, so bucket
    * occupancy grows LINEARLY with the corpus (the round-9 sf10 sweep
    * measured 40–45k-member buckets at 200k vectors → Σ C(sz,2) ≈
    * 1.3·10¹⁰ candidate pairs, which OOM'd/overran any shape); above
    * the cap, candidates become linear in bucket size: every member
    * pairs with the bucket's sort-first element (star — keeps the
    * q107 cluster consumer connected through the hub) and with its
    * successor in signature order (chain — identical-signature
    * subgroups are contiguous runs, so true near-dup families still
    * pair up even when their hub pairs fail the cosine verify).
    * Verification (cosine ≥ τ) is unchanged; the bounded trade is
    * q37's: close-but-unequal subgroups may lose intra pairs in this
    * band, other bands can still catch them.
    *
    * Shape discipline: the degraded branch is spelled with WINDOWS
    * (hub join + successor lag), never per-row bucket arrays — at
    * 45k members the array-carrying explode holds sz² bytes per
    * bucket in flight (the q168 OOM class). Never binds at gate
    * scale (max bucket ≈ 45 at sf0.01, ≈ 450 at sf0.1), so the
    * full-expansion oracle remains the verified contract — the q37
    * MaxLshBucket precedent. */
  val SrpMaxBucket: Int = graft.util.Caps.BandBucketCap
  /** IVF cell count — the q53 gate's oracle contract (probe-all ≡
    * brute force) needs nProbe == nCells, so both come from HERE. */
  val IvfCells = 16

  /** q164 overflow ceiling: vectors per label beyond which the
    * 10-bit fixed-point centroid dot can exceed BIGINT
    * ((2¹⁰·n)² ≤ 2⁶³−1 ⟹ n ≲ 2.9·10⁶; see [[domainSimilarity]]). */
  val DomainSimMaxN = 2900000L

  /** Row b of the deterministic ±1 projection matrix (xorshift-mixed)
    * — defined for ANY b, so the corpus-scaled path can draw more
    * projections than the fixed 16-bit gate signature uses. */
  private[sim] def projRow(b: Int): Array[Double] =
    Array.tabulate(Dim) { d =>
      var x = (b.toLong << 32) ^ (d.toLong * 0x9e3779b97f4a7c15L) ^ 0x5bd1e995L
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
      if ((x & 1L) == 0L) 1.0 else -1.0
    }

  /** Deterministic ±1 projection matrix (xorshift-mixed), bits × dim. */
  private[sim] lazy val projections: Array[Array[Double]] =
    Array.tabulate(SigBits)(projRow)

  /** dot(embedding, lit projection vector) via the native expression
    * (±1 values are exact in float, so the implicit double→float cast
    * is lossless). */
  private def dotLit(v: Column, proj: Array[Double]): Column =
    call_function("float_dot", v,
      array(proj.map(lit): _*).cast("array<float>"))

  /** Codegen'd native dot product (graft.functions.FloatDot).
    * Bit-identical to the aggregate(zip_with(...)) spelling it
    * replaces. */
  private def dotCol(a: Column, b: Column): Column =
    call_function("float_dot", a, b)

  /** Codegen'd native int8 dot (graft.functions.Int8Dot) — exact
    * BIGINT arithmetic, bit-identical to the aggregate(zip_with(...))
    * spelling it replaces (pinned in Int8DotSpec). */
  private[sim] def int8DotCol(a: Column, b: Column): Column =
    call_function("int8_dot", a, b)

  /** 16-bit SRP signature of an embedding column. */
  def signature(v: Column): Column =
    (0 until SigBits).map { b =>
      when(dotLit(v, projections(b)) > 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Band-explode of a 16-bit `sig` column into (band, bandVal) rows —
    * the one spelling shared by every LSH path. */
  private def bandCols: Column =
    posexplode(expr(
      s"transform(sequence(0, ${Bands - 1}), " +
        s"b -> (sig >> (b * $BandBits)) & ${(1 << BandBits) - 1})"))
      .as(Seq("band", "bandVal"))

  /** Shared exact re-rank: top-k rows per query_id by descending
    * score (default `cosine`), neighbor_id as the deterministic
    * tiebreak. ONE spelling for every kNN consumer (q50/q51/q53/q143
    * here, q137's media kNN in [[graft.multimodal.Multimodal]]) — the
    * tie-break contract is what every oracle's `ORDER BY ... DESC,
    * neighbor_id` replays, so a drifted copy would silently detach a
    * query from its oracle. */
  private[graft] def rankTopK(scored: DataFrame, k: Int,
                              scoreCol: String = "cosine"): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** q50: exact brute-force top-k for a fixed query set (vec_id < 10).
    * The query side is tiny → broadcast; corpus side streams through
    * one scan. */
  def knnBrute(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val all = corpus(s, dir)
    val q = all.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotCol(col("embedding"), col("qv")).as("cosine"))
    rankTopK(scored, k)
  }

  /** q312's truncation width: the leading half of the embedding. */
  val AblateDim: Int = Dim / 2

  /** q312: truncated-dimension retrieval ablation — the Matryoshka
    * question (Kusupati et al. 2022, "Matryoshka Representation
    * Learning"): how much of the full-dimension top-k does an index
    * built on only the leading [[AblateDim]] components recover?
    * Per gate query (vec_id < 10): recall@k of the half-dim ranking
    * against the full-dim ranking, both exact brute force with the
    * q50 tie-break contract. The number that decides whether a
    * 100 TB deployment can serve a 2× cheaper truncated index.
    *
    * Scale shape: ONE corpus scan computes BOTH dots (the full dot
    * and the prefix dot share the broadcast query row); the two rank
    * windows share one query_id exchange (same partitioning, two
    * sorts). Gate-mode brute force by contract, like q50 — the
    * production path would rank on the served zones (q155/q163). */
  def dimAblation(s: SparkSession, dir: String, k: Int = 5,
                  d: Int = AblateDim): DataFrame = {
    val all = corpus(s, dir)
    val q = all.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotCol(col("embedding"), col("qv")).as("cf"),
        dotCol(slice(col("embedding"), 1, d),
          slice(col("qv"), 1, d)).as("ch"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("cf").desc, col("neighbor_id"))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("ch").desc, col("neighbor_id"))
    scored
      .withColumn("rf", row_number().over(wF))
      .withColumn("rh", row_number().over(wH))
      // aggregate over the full-rank top-k rows (k per query), so a
      // zero-overlap query still emits its row
      .where(col("rf") <= k)
      .groupBy(col("query_id"))
      .agg(sum(when(col("rh") <= k, 1L).otherwise(0L)).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / lit(k.toDouble))
          .as("recall_at_k"))
      .orderBy("query_id")
  }

  /** q51: SRP-LSH top-k — same contract as q50, bucket-join candidates
    * (any shared band) then exact re-rank. Recall < 1 by construction;
    * measured against q50 in tests. */
  def knnLsh(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // Band rows carry ONLY (vec_id, band, bandVal) — as in nearDupPairs,
    // the 64-float vectors never ride through the explode/join/distinct;
    // they are re-attached to the deduped candidate id pairs instead.
    // The corpus-side signature pipeline (16 dots/row) appears in
    // exactly ONE plan branch: the query side re-derives its 10
    // signatures from a separate pushdown-filtered scan instead of
    // re-filtering `banded` (which would plan the full corpus signature
    // computation a second time).
    val emb = corpus(s, dir).select(col("vec_id"), col("embedding"))
    val banded = emb
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), signature(col("embedding")).as("sig"))
      .select(col("vec_id"), bandCols)
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        signature(col("embedding")).as("sig"))
      .select(col("query_id"), bandCols)
      .select(col("query_id"),
        col("band").as("qband"), col("bandVal").as("qbandVal"))
    val cand = banded.join(broadcast(q),
        col("band") === col("qband") && col("bandVal") === col("qbandVal") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    // NO broadcast hint on the corpus-sided vector lookups: a hint
    // would force a driver OOM at 10⁹ vectors instead of degrading;
    // the optimizer auto-broadcasts at gate scale, and past the
    // threshold these are id-keyed shuffle joins
    val scored = cand
      .join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")), "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        dotCol(col("nv"), col("qv")).as("cosine"))
    rankTopK(scored, k)
  }

  /** q194: MULTI-PROBE SRP-LSH — the standard recall dial that does
    * not cost more bands/tables (Lv et al. 2007): each query probes
    * its own band value PLUS every Hamming-distance-1 neighbor value
    * (BandBits flips per band), because a near neighbor that missed
    * the bucket most likely differs by exactly one hyperplane sign.
    * Candidates therefore SUPERSET q51's, and the returned top-k's
    * overlap with the exact top-k cannot drop (a candidate can only
    * displace a true-top-k member if its cosine is higher — making
    * it a true-top-k member itself), so the per-query witness
    * `no_worse` is pinned TRUE structurally, not empirically.
    *
    * Scale shape: identical to q51 — the probe expansion multiplies
    * only the broadcast QUERY band rows by (BandBits+1); the corpus
    * side is untouched. */
  def knnLshMultiProbe(s: SparkSession, dir: String,
                       k: Int = 5): DataFrame = {
    val emb = corpus(s, dir).select(col("vec_id"), col("embedding"))
    val banded = emb
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), signature(col("embedding")).as("sig"))
      .select(col("vec_id"), bandCols)
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        signature(col("embedding")).as("sig"))
      .select(col("query_id"), bandCols)
      .select(col("query_id"),
        col("band").as("qband"), col("bandVal").as("qbandVal"))
    val probes = q.select(col("query_id"), col("qband"),
      explode(expr(
        s"transform(sequence(0, $BandBits), i -> CASE WHEN i = 0 " +
          "THEN qbandVal ELSE CAST(qbandVal AS INT) ^ " +
          "CAST(shiftleft(1, i - 1) AS INT) END)")).as("qbandVal"))
    def topkFrom(cand: DataFrame): DataFrame = {
      val scored = cand
        .join(emb.select(col("vec_id").as("query_id"),
          col("embedding").as("qv")), "query_id")
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("nv")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          dotCol(col("nv"), col("qv")).as("cosine"))
      rankTopK(scored, k)
    }
    // ONE corpus signature derivation for BOTH witness legs (r15,
    // §2.4): the single-probe leg previously re-ran knnLsh's own
    // banded pipeline — two heavy stages recomputing the identical
    // 16-dot signatures (Probe time: 2 × ~8.5 CPU-s). A shared keyed
    // repartition puts the signature computation in the exchange's
    // MAP side, so the runtime reuses one exchange and both legs'
    // bucket joins read the narrow (vec_id, band, bandVal) rows.
    // The single leg's candidates are definitionally knnLsh's (same
    // emb, same signature fn, same join condition) — output equal.
    val parts = s.sessionState.conf.numShufflePartitions
    val bandedShared = banded
      .repartition(parts, col("band"), col("bandVal"))
    val multi = topkFrom(bandedShared.join(broadcast(probes),
        col("band") === col("qband") &&
          col("bandVal") === col("qbandVal") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct())
    // witness inputs: q51's single-probe top-k and the exact top-k
    val single = topkFrom(bandedShared.join(broadcast(q),
        col("band") === col("qband") &&
          col("bandVal") === col("qbandVal") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct())
      .select(col("query_id"), col("neighbor_id"))
    val exact = knnBrute(s, dir, k)
      .select(col("query_id"), col("neighbor_id"))
    def hits(t: DataFrame): DataFrame = t
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
    val hm = hits(multi.select(col("query_id"), col("neighbor_id")))
      .select(col("query_id"), col("h").as("hits_multi"))
    val hs = hits(single)
      .select(col("query_id"), col("h").as("hits_single"))
    multi
      .join(hm, Seq("query_id"), "left")
      .join(hs, Seq("query_id"), "left")
      .withColumn("hits_multi", coalesce(col("hits_multi"), lit(0L)))
      .withColumn("hits_single", coalesce(col("hits_single"), lit(0L)))
      .withColumn("no_worse", col("hits_multi") >= col("hits_single"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank"), col("hits_multi"), col("hits_single"),
        col("no_worse"))
      .orderBy("query_id", "rank")
  }

  /** q53: IVF (inverted-file) top-k — the other ANN scale path: a
    * seeded k-means coarse quantizer partitions the corpus into cells;
    * each query probes only its `nProbe` closest cells and re-ranks
    * exactly within them. At 100 TB the cell id becomes the partition
    * key (partition pruning on probe), and the centroid table is a
    * broadcast. Recall is tunable via nProbe; measured against q50 in
    * tests. */
  /** The IVF quantizer fit + corpus cell assignment — shared by q53's
    * in-query path and [[IvfServe.build]]'s zone writer (ONE fit
    * spelling, so the served index can never disagree with the query
    * path on cell geometry). Returns (assigned corpus, centroid
    * table).
    *
    * The quantizer fits on a BOUNDED sample: k-means is iterative
    * (maxIter full scans + a driver-side centroid reduce), so fitting
    * on the whole corpus is the one step that would not survive a
    * 100 TB table. Centroid geometry converges on a uniform sample —
    * ~6k rows per cell is plenty — and the corpus-wide cell ASSIGNMENT
    * stays a single broadcast-scored scan. The row count comes
    * from parquet metadata (no data read); at gate scale the fraction
    * is 1.0, so q53 results are bit-identical to a full fit. */
  private[sim] def ivfFit(s: SparkSession, dir: String,
                          nCells: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val emb = corpus(s, dir).select(col("vec_id"), col("embedding"))
      .withColumn("v", array_to_vector(col("embedding")))
    val fitCap = 100000L
    val n = emb.count()
    val fitSet =
      if (n <= fitCap) emb
      else emb.sample(withReplacement = false, fitCap.toDouble / n, seed = 7)
    val model = new KMeans().setK(nCells).setSeed(42).setMaxIter(5)
      .setFeaturesCol("v").fit(fitSet)
    val assigned = model.transform(emb)
      .select(col("vec_id"), col("embedding"),
        col(model.getPredictionCol).as("cell"))
    // centroid table: tiny, broadcast everywhere
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }
    (assigned, s.createDataFrame(centroids.toSeq).toDF("cell", "cvec"))
  }

  def knnIvf(s: SparkSession, dir: String, k: Int = 5,
             nCells: Int = IvfCells, nProbe: Int = 4): DataFrame = {
    val (assigned, cdf) = ivfFit(s, dir, nCells)
    // probe set: nProbe closest centroids per query (unit vectors →
    // max dot = min angle)
    val q = assigned.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("cdot").desc, col("cell"))
    val probed = q.crossJoin(broadcast(cdf))
      .withColumn("cdot", call_function("float_dot", col("qv"), col("cvec")))
      .withColumn("crank", row_number().over(wCell))
      .where(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    // candidates: corpus rows in probed cells only (partition-pruned at
    // scale), exact re-rank
    val scored = assigned.join(broadcast(probed),
        assigned("cell") === probed("cell") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotCol(col("embedding"), col("qv")).as("cosine"))
    rankTopK(scored, k)
  }

  /** q52: embedding near-duplicate pairs (cosine ≥ threshold) — the
    * embedding leg of the dedup suite. Candidates via shared signature
    * band, exact verify, no cross join. */
  def nearDupPairs(s: SparkSession, dir: String,
                   threshold: Double = 0.45): DataFrame =
    // memoized pair zone: q52 itself and q107's CC loop (every round)
    // consume the same deterministic (dir, threshold) relation — the
    // jaccardZone discipline (Dedup.scala); the output sort is q52's
    // own, so the zone stores unsorted
    nearDupPairZone(s, dir, threshold).orderBy("id1", "id2")

  private[graft] def nearDupPairsDerive(s: SparkSession, dir: String,
                                        threshold: Double): DataFrame = {
    // Band rows carry ONLY (vec_id, band, bandVal): the 64-float
    // vectors never ride through the explode/join/distinct (at sf0.1
    // that alone was ~4× the shuffle volume). Dedup candidate pairs on
    // the id pair, then re-attach vectors with two UNHINTED joins —
    // auto-broadcast at gate scale, id-keyed shuffle joins at true
    // corpus scale (still linear, never quadratic; a forced hint on
    // the corpus-growing side would OOM the driver instead).
    val emb = corpus(s, dir).select(col("vec_id"), col("embedding"))
    // repartition: the corpus is one parquet split — without the
    // spread, signatures and the dot products run on 1 core. The
    // single-pass bucket shape (as in Dedup.minhashLshPairs) runs the
    // corpus signature pipeline ONCE; a band self-join would plan it
    // once per side.
    val banded = emb
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), signature(col("embedding")).as("sig"))
      .select(col("vec_id"), col("sig"), bandCols)
    expandBucketPairs(banded, emb, threshold)
  }

  /** The capped bucket-pair expansion shared by the gate derivation
    * (fixed 16-bit signature) and the corpus-scaled production path:
    * block-grid full triangles for buckets ≤ [[SrpMaxBucket]],
    * windowed star+chain above, exact cosine verify, post-threshold
    * dedup. Input `banded`: (vec_id, sig, band, bandVal) — `sig` is
    * only an ordering key for the chain's identical-signature
    * contiguity. */
  private def expandBucketPairs(banded: DataFrame, emb: DataFrame,
                                threshold: Double): DataFrame = {
    // bucket occupancy gates the expansion shape (see SrpMaxBucket);
    // the observe metric makes a binding cap visible at run time
    // (graft.cap.srp.* — the Caps "no silent caps" plumbing), riding
    // the single-consumer hub rows below so plan reuse cannot
    // double-count it (round-10 ADVICE)
    val wB = Window.partitionBy(col("band"), col("bandVal"))
    val withSz = banded.withColumn("sz", count(lit(1)).over(wB))
    val smallB = withSz.where(col("sz") <= SrpMaxBucket)
      .select(col("vec_id"), col("band"), col("bandVal"))
    // STAR + CHAIN for oversized buckets, windowed (no bucket arrays)
    val wOrd = wB.orderBy(col("sig"), col("vec_id"))
    val ranked = withSz.where(col("sz") > SrpMaxBucket)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("prev", lag(col("vec_id"), 1).over(wOrd))
    val hubs = graft.util.Caps.observeOvercapHubs(
        ranked.where(col("rn") === 1), "sz", "srp")
      .select(col("band"), col("bandVal"), col("vec_id").as("hub_id"))
    val star = ranked.where(col("rn") > 1)
      .join(hubs, Seq("band", "bandVal"))
      .select(least(col("vec_id"), col("hub_id")).as("id1"),
        greatest(col("vec_id"), col("hub_id")).as("id2"))
    val chain = ranked.where(col("rn") > 2)
      .select(least(col("vec_id"), col("prev")).as("id1"),
        greatest(col("vec_id"), col("prev")).as("id2"))
    // BLOCK-GRID triangle expansion (the sf1 skew fix): a 16-bit
    // signature in 4-bit bands has ≤ 2^BandBits bucket values per
    // band, so the per-bucket collect_list + triangle explode ran the
    // WHOLE bucket's C(sz,2) expansion in the one task holding the
    // bucket row — parallelism ≤ #buckets, and the densest bucket is
    // the wall (measured at the sf1 10× stress: sys-bound, ~2 cores
    // busy of 32). Same candidate SET, different shape: index each
    // bucket's members (linear window), group into fixed-size blocks,
    // and expand the triangle as a block-grid join — every grid cell
    // (≤ PairBlock² pairs) is its own task, so the densest bucket
    // spreads over (sz/B)²/2 tasks. Block indexing follows vec_id
    // order, so cross-block cells emit id1 < id2 by construction and
    // the diagonal cells keep the slice-triangle spelling.
    val idx = smallB
      .withColumn("i", row_number().over(
        Window.partitionBy(col("band"), col("bandVal"))
          .orderBy(col("vec_id"))) - 1)
    val blocks = idx
      .withColumn("blk", (col("i") / PairBlock).cast("int"))
      .groupBy(col("band"), col("bandVal"), col("blk"))
      .agg(array_sort(collect_list(col("vec_id"))).as("ids"))
    val grid = blocks.as("x").join(blocks.as("y"),
      col("x.band") === col("y.band") &&
        col("x.bandVal") === col("y.bandVal") &&
        col("x.blk") <= col("y.blk"))
    val diag = grid.where(col("x.blk") === col("y.blk"))
      .select(col("x.ids").as("ids"))
      .where(size(col("ids")) >= 2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "v")))
      .select(col("v").as("id1"),
        explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("id2"))
    val off = grid.where(col("x.blk") < col("y.blk"))
      .select(col("x.ids").as("ids1"), col("y.ids").as("ids2"))
      .select(explode(col("ids1")).as("id1"), col("ids2"))
      .select(col("id1"), explode(col("ids2")).as("id2"))
    // dedup AFTER the threshold, not before: a pair colliding in k
    // bands appears k times in the candidate stream, and the old
    // pre-join `distinct()` shuffled the WHOLE ~bucket-quadratic
    // candidate relation to remove those few duplicates (measured at
    // the sf1 stress: the one big shuffle left, sys-bound). The
    // embedding lookups auto-broadcast (unhinted — the corpus side
    // is MBs at gate scale; at true corpus scale AQE shuffles them
    // and a pre-join dedup becomes worth re-evaluating), so the
    // candidate stream now flows map-side through the codegen'd dot:
    // duplicate candidates cost ≤ Bands extra dots on the survivors'
    // path, and the post-threshold distinct dedups the SURVIVING
    // pairs — thousands of rows, not 10⁸ (identical inputs give
    // bit-identical cosines, so (id1,id2,cosine) dedup is exact).
    val cand = diag.unionByName(off).unionByName(star).unionByName(chain)
    cand
      // EXPANSION-STAGE partitioning (round-9 sf10 find): the grid
      // join's input is tiny (block rows), so AQE coalesces its
      // shuffle to a handful of tasks — and the triangle explode then
      // multiplies ROWS by ~10⁵ inside those few tasks, which OOM'd
      // the scaled path at sf10 (fine at 4096 hand-set partitions,
      // dead at the bytes-derived 1024). Re-keying the exploded
      // stream by id1 puts the post-explosion volume on the
      // CONFIGURED partition count before anything blocking runs —
      // the join immediately reuses the same hash partitioning, so
      // this adds no extra exchange beyond the one the join needs.
      .repartition(col("id1"))
      // same no-hint rule as knnLsh for the corpus-sided lookups
      .join(emb.select(col("vec_id").as("id1"),
        col("embedding").as("v1")), "id1")
      .join(emb.select(col("vec_id").as("id2"),
        col("embedding").as("v2")), "id2")
      .select(col("id1"), col("id2"), dotCol(col("v1"), col("v2")).as("cosine"))
      .where(col("cosine") >= threshold)
      .distinct()
  }

  /** Dev-probe view of the q52 LSH bucket occupancy (band, bandVal,
    * size) — the candidate volume is Σ C(sz, 2) over these rows. */
  private[graft] def bucketSizes(s: SparkSession, dir: String): DataFrame = {
    corpus(s, dir).select(col("vec_id"), col("embedding"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), signature(col("embedding")).as("sig"))
      .select(col("vec_id"), bandCols)
      .groupBy(col("band"), col("bandVal"))
      .agg(count(lit(1)).as("sz"))
      .orderBy(col("sz").desc)
  }

  /** Target expected bucket occupancy of the corpus-scaled SRP path —
    * bits per band grow with the corpus to hold this. */
  val ScaledTargetBucket = 256
  /** Band count of the corpus-scaled SRP path. More bands buy recall
    * (1 − (1 − pʳ)ᵇ) at linear candidate cost; 8 keeps ≥ ~95% recall
    * for 0.9-cosine near-dups at 10-bit bands. */
  val ScaledBands = 8

  /** The (bands, bitsPerBand) the scaled path derives from a corpus
    * size — exposed for specs/probes. bitsPerBand =
    * ceil(log₂(n / [[ScaledTargetBucket]])) clamped to [4, 16]:
    * bucket count 2ᵇⁱᵗˢ grows with the corpus so expected occupancy
    * stays ≤ the target (the fixed 16-bucket gate banding is exactly
    * what exploded at sf10 — occupancy grew linearly with n). */
  def scaledBandShape(n: Long): (Int, Int) = {
    val need = math.ceil(math.log(math.max(1L, n).toDouble /
      ScaledTargetBucket) / math.log(2.0)).toInt
    (ScaledBands, math.min(16, math.max(4, need)))
  }

  /** PRODUCTION-scale embedding near-dup pairs — the corpus-scaled
    * variant of the q52 gate contract: same verify (exact cosine ≥
    * threshold), same capped expansion shape, but the SRP banding is
    * sized from the corpus ([[scaledBandShape]]) instead of the fixed
    * 16-bit/16-bucket gate signature, and band values stay UNPACKED
    * (one value per band — no single-long packing, so the bit budget
    * has no 63-bit ceiling). Recall is the standard LSH 1 − (1 − pʳ)ᵇ
    * (p = 1 − θ/π per hyperplane): sized for HIGH-cosine near-dup
    * families — the dedup regime — not for exhaustive 0.45-threshold
    * pair listing, which is inherently quadratic output at corpus
    * scale (q36's gate-mode ruling). Not oracle-gated: q52's fixed
    * signature IS the verified contract; this path is
    * recall-witnessed against brute force in SimilaritySpec and sf10
    * probed (PLANS.md round-9). */
  def nearDupPairsScaled(s: SparkSession, dir: String,
                         threshold: Double = 0.45): DataFrame = {
    // metadata-cheap corpus count (parquet row-group stats) sizes the
    // banding — the one driver-side scalar this path needs
    val (bands, bits) = scaledBandShape(corpus(s, dir).count())
    nearDupPairsShaped(s, dir, bands, bits, threshold)
  }

  /** The fixed-shape core of [[nearDupPairsScaled]] — (bands, bits)
    * explicit, so the unpacked-banding pipeline itself is
    * hash-gateable at any scale (q309 pins it at 8 × 4; the adaptive
    * sizing on top is pure arithmetic, pinned in SimilaritySpec). */
  /** The unpacked scaled-SRP band-value ARRAY expression over an
    * `embedding` column — THE one derivation of the (band, bandVal)
    * banding, used by the batch pair path, the bucket probe, the
    * graph banding and the streaming admission twin. One spelling on
    * purpose: NearDupMaintSpec pins stream ≡ batch on the premise
    * that both sides band identically, which only holds structurally
    * if there is exactly one copy of this arithmetic to edit. */
  private[graft] def scaledBandVals(bands: Int, bits: Int): Column =
    array((0 until bands).map { b =>
      (0 until bits).map { i =>
        when(dotLit(col("embedding"), projRow(b * bits + i)) > 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** The unpacked (vec_id, band, bandVal) relation of the scaled SRP
    * shape over any (vec_id, embedding) relation —
    * [[scaledBandVals]] exploded; the spelling the streaming
    * admission twin ([[graft.streaming.NearDupMaint]]) and the graph
    * banding share with the batch path. */
  private[graft] def bandRows(emb: DataFrame, bands: Int,
                              bits: Int): DataFrame =
    emb.select(col("vec_id"),
      posexplode(scaledBandVals(bands, bits)).as(Seq("band", "bandVal")))

  def nearDupPairsShaped(s: SparkSession, dir: String, bands: Int,
                         bits: Int, threshold: Double): DataFrame = {
    val emb = corpus(s, dir).select(col("vec_id"), col("embedding"))
    val bandVals = scaledBandVals(bands, bits)
    // ordering key for the chain's contiguity only: the first ≤ 32
    // projections, packed (identical full signatures agree on it)
    val sortSig = (0 until math.min(32, bands * bits)).map { b =>
      when(dotLit(col("embedding"), projRow(b)) > 0, lit(1L << b))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val banded = emb
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), sortSig.as("sig"), bandVals.as("bvs"))
      .select(col("vec_id"), col("sig"),
        posexplode(col("bvs")).as(Seq("band", "bandVal")))
    expandBucketPairs(banded, emb, threshold)
      .orderBy("id1", "id2")
  }

  /** q309: the unpacked-band SRP pair pipeline under the gate — the
    * [[nearDupPairsScaled]] production path pinned at the fixed
    * 8-band × 4-bit shape (scale-generic, so the DuckDB oracle can
    * spell it verbatim at any sf). Bands 0–3 reuse the q52
    * signature's 16 projections, bands 4–7 draw the next 16 — a
    * strict candidate superset of q52, i.e. the recall the extra
    * bands buy is hash-visible (every q52 pair reappears with the
    * identical cosine). Memoized like the q52 zone — same
    * (dir, shape, threshold) determinism contract. */
  def scaledNearDup(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "srp-shaped-pairs",
      s"srp-shaped:$dir:${ScaledBands}x4:0.45") {
      nearDupPairsShaped(s, dir, ScaledBands, 4, 0.45)
    }.orderBy("id1", "id2")

  /** The q52 pair zone unsorted — what the clustering consumer reads
    * (CC canonicalizes and checkpoints the edges anyway). */
  private def nearDupPairZone(s: SparkSession, dir: String,
                              threshold: Double = 0.45): DataFrame =
    graft.util.Scratch.memo(s, "srp-pairs",
      s"srp-pairs:$dir:$threshold") {
      nearDupPairsDerive(s, dir, threshold)
    }

  /** Scalar int8 quantization of the embedding column: per-vector
    * symmetric scale (max |x| → 127), 4× smaller than float32 — the
    * storage/bandwidth lever for a 100 TB vector corpus, where the
    * re-rank reads quantized vectors and only the final scoring (or
    * nothing, for recall-tolerant paths) touches float32. Column
    * expressions only (stays in codegen); per-component reconstruction
    * error is bounded by scale/254 (half a quantization step),
    * asserted in SimilaritySpec alongside top-k recall vs the exact
    * float path. */
  def quantize(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    emb
      .withColumn("q_scale",
        expr(s"aggregate($vecCol, CAST(0.0 AS FLOAT), " +
          "(m, x) -> greatest(m, abs(x)))"))
      .withColumn("q_vec",
        expr(s"transform($vecCol, x -> CAST(round(x / q_scale * 127.0) " +
          "AS TINYINT))"))

  /** Reconstruct float vectors from int8 (for re-rank or audit). */
  def dequantize(df: DataFrame): DataFrame =
    df.withColumn("dq_vec",
      expr("transform(q_vec, b -> CAST(b * q_scale / 127.0 AS FLOAT))"))

  /** q143: top-k over the INT8-quantized corpus — the ANN memory/
    * bandwidth lever made a first-class query: score with the exact
    * INTEGER dot of the two int8 codes (≤ 64·127² ≪ 2⁶³ — no float
    * accumulation order to disagree on, the deepest reason this query
    * can be hash-gated while PQ-style ADC cannot), then de-scale to
    * an approximate cosine with ONE fixed double expression
    * (qdot·sₐ·s_q/127²). Per-query ranking needs the neighbor scale
    * (s_q is constant within a query), so the rank key is the
    * de-scaled value; ties break on neighbor_id as everywhere.
    * Quantization error vs the float ranking is bounded by the
    * half-step bound SimilaritySpec pins on [[quantize]] (top-k
    * recall ≥ 0.9 vs q50).
    *
    * Scale shape = q50's: tiny query side broadcast, one corpus scan,
    * 4× less vector bandwidth than float32 — the reason a 100 TB
    * corpus quantizes its serving copy at all. */
  def knnQuantized(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val all = quantizedZone(s, dir)
    val q = all.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q_vec").as("qq"),
        col("q_scale").as("qs"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        int8DotCol(col("q_vec"), col("qq")).as("qdot"),
        col("q_scale"), col("qs"))
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        (col("qdot").cast("double") * col("q_scale").cast("double") *
          col("qs").cast("double") / lit(16129.0)).as("approx_cos"))
    rankTopK(scored, k, scoreCol = "approx_cos")
  }

  /** The int8-quantized corpus ([[quantize]]) materialized ONCE to
    * the parquet scratch zone: q143's serving scan, q155's exact
    * graph (both sides of its self-join), q156's edge derivation and
    * the banded scale path all read the stored codes (the
    * ≥3-consumer materialize rule of PLANS.md). It is also the 100 TB
    * story itself — the quantized copy IS the serving artifact, 4×
    * smaller than the float corpus, written once and scanned by every
    * ANN query. */
  private def quantizedZone(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "int8-codes", s"int8-codes:$dir")(
      quantize(corpus(s, dir))
        .select(col("vec_id"), col("q_vec"), col("q_scale")))

  /** k of the q155 graph — ONE constant shared by the Spark path, the
    * banded variant and the oracle SQL. */
  val GraphK = 5
  /** q156's duplicate-edge cosine threshold — q52's near-dup value. */
  val SemTau = 0.45

  /** Per-anchor candidate cap of [[knnGraphBanded]] — shared by the
    * Spark path and the q168 oracle replay. Sized at 2× the scaled
    * banding's design occupancy ([[ScaledTargetBucket]] = 256), so
    * the cap binds only on SKEW (a bucket at twice its expected
    * size), never on the typical bucket — at the old value of 200
    * the cap sat BELOW the expected occupancy, so past ~1M vectors
    * it would have truncated every ordinary bucket by design (the
    * r10 principle CapsSpec pins: caps are safety valves, not
    * operating points). Cost bound: ≤ bands × cap = 4096 exact int8
    * dots per anchor. */
  val GraphMaxBucket: Int = 2 * ScaledTargetBucket
  /** q168's pinned overall-recall floor for the banded graph vs the
    * exact graph (random unit vectors — the q51 hardest-case bound;
    * clustered real corpora measure far higher). */
  val BandedRecallFloor = 0.25

  /** q155 derivation: EXACT int8 kNN graph — EVERY vector an anchor
    * (where q50/q143 rank a 10-query set, a graph serves semantic
    * dedup, diversity pruning and graph-based curation corpus-wide),
    * scored by the exact integer dot and ranked under q143's
    * contract. This is the GATE mode: deliberately all-pairs so DuckDB
    * replays it bit-for-bit; the production path is
    * [[knnGraphBanded]] (SRP-banded candidates + the same exact
    * rescore), recall-measured against this in SimilaritySpec — the
    * q53 exact-mode / approximate-path split. All pairs have no equi
    * key by nature, so the planner's nested-loop choice is the honest
    * plan; past gate scale nobody runs the exact graph — that is the
    * point of the banded variant. */
  private def knnGraphDerive(s: SparkSession, dir: String,
                             k: Int): DataFrame = {
    // spread the streamed side: the quantized corpus is a few MB of
    // parquet → ONE input split, and an all-pairs join over one
    // split runs its O(n²) scoring on ONE core (measured at the 10×
    // scale stress: a single 15+ min task while 31 cores idled —
    // the sf1 cliff this derive's gate mode must not hit)
    val all = quantizedZone(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
    val q = all.select(col("vec_id").as("query_id"),
      col("q_vec").as("qq"), col("q_scale").as("qs"))
    val scored = all.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        int8DotCol(col("q_vec"), col("qq")).as("qdot"),
        col("q_scale"), col("qs"))
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        (col("qdot").cast("double") * col("q_scale").cast("double") *
          col("qs").cast("double") / lit(16129.0)).as("approx_cos"))
    rankTopK(scored, k, scoreCol = "approx_cos")
  }

  /** Corpus-size ceiling for the EXACT all-pairs graph derive. The
    * exact derive enumerates n² int8 dots and windows them per query
    * — the by-contract gate mode, measured 61 s at sf1 (n = 20k,
    * 4·10⁸ dots) but ~2 h at sf10 (n = 200k, 4·10¹⁰ dots, >1 TB of
    * shuffled pair rows): quadratic cost with no plan-shape escape.
    * Above the ceiling the SERVED zone is [[knnGraphBanded]] — the
    * 100 TB path every scaladoc already names, same schema, same
    * exact int8 rescoring and rank contract over SRP-blocked
    * candidates, recall witnessed against the exact graph at every
    * scale the gate runs (q168, oracle-pinned). 50k keeps sf0.01/
    * sf0.1 (gate) and sf1 (stress) exact; sf10+ serves banded. */
  val ExactKnnMaxN: Int = graft.util.Caps.ExactKnnMaxN

  /** Anchor count of the above-ceiling q168 witness regime: recall
    * estimation needs thousands of anchors, not the corpus — the
    * standard ANN-benchmark query-set size. 2000 anchors at n = 200k
    * vectors is 4·10⁸ exact dots (the measured 61 s sf1 class),
    * linear in n. */
  val WitnessAnchors = 2000

  /** Exact top-k over a DETERMINISTIC sampled anchor set — the
    * witness's independent ground truth when the served zone is
    * banded: the `nAnchors` md5-smallest vec_ids (stable across
    * runs, partitionings and engines — the q102 stable-hash family)
    * each score the FULL corpus with the exact int8 dot and rank
    * under the q143 contract. O(nAnchors · n) work, one corpus
    * scan, anchor side broadcast. */
  private[graft] def exactAnchorGraph(s: SparkSession, dir: String,
                                      k: Int, nAnchors: Int): DataFrame = {
    val all = quantizedZone(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
    // bottom-K by hash: TakeOrdered, never a global sort
    val anchors = all
      .orderBy(graft.dedup.Md5Prefix.h(col("vec_id").cast("string")),
        col("vec_id"))
      .limit(nAnchors)
      .select(col("vec_id").as("query_id"), col("q_vec").as("qq"),
        col("q_scale").as("qs"))
    val scored = all.join(broadcast(anchors),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        int8DotCol(col("q_vec"), col("qq")).as("qdot"),
        col("q_scale"), col("qs"))
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        (col("qdot").cast("double") * col("q_scale").cast("double") *
          col("qs").cast("double") / lit(16129.0)).as("approx_cos"))
    rankTopK(scored, k, scoreCol = "approx_cos")
  }

  /** The ranked graph stored to the scratch zone — q155's surface,
    * q156's edges and the banded recall test all read it, so the
    * scoring runs once per application. Exact below [[ExactKnnMaxN]]
    * vectors, banded above (see there). */
  private[graft] def knnGraphZone(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "knn-graph", s"knn-graph:$dir:$GraphK") {
      if (corpus(s, dir).count() <= ExactKnnMaxN)
        knnGraphDerive(s, dir, GraphK)
      else knnGraphBanded(s, dir, GraphK)
    }

  /** q155: the served int8 kNN graph (gate surface — deterministic
    * output order on the zone scan). EXACT below [[ExactKnnMaxN]]
    * vectors — every gate SF — and SRP-banded + exact-rescore above
    * (the zone's documented scale flip): a caller who needs to know
    * which contract a given corpus got reads the ceiling, and the
    * banded regime's recall is independently witnessed by q168's
    * anchored exact side (never by the zone against itself). */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphZone(s, dir).orderBy("query_id", "rank")

  /** The 100 TB path for the kNN graph: SRP band-equality candidates
    * (q51/q52's blocking — the single-pass bucket shape, so the
    * corpus signature pipeline plans ONCE, never a band self-join
    * that would plan it per side) rescored with the exact int8 dot
    * and ranked under the same contract. Recall < 1 by construction,
    * measured vs [[knnGraph]] in SimilaritySpec. Band rows carry ids
    * only; codes re-attach by id afterwards (unhinted — broadcast
    * below threshold is the optimizer's call, id-keyed shuffle
    * above). `maxBucket` caps each element's partner list, so a
    * mass-duplicated embedding bucket costs |bucket|·cap, not
    * |bucket|² — every ANCHOR keeps candidates (unlike star+chain,
    * which preserves pair detection but not per-anchor coverage),
    * and past the cap a boilerplate bucket degrades graph recall
    * instead of blowing up. */
  def knnGraphBanded(s: SparkSession, dir: String, k: Int = GraphK,
                     maxBucket: Int = GraphMaxBucket): DataFrame = {
    val emb = corpus(s, dir).select(col("vec_id"), col("embedding"))
    // CORPUS-SCALED banding (round-10: the q309 scaledBandShape
    // lesson applied to the graph). The original fixed 16-bit/4-band
    // gate signature has only 16 bucket values per band, so bucket
    // occupancy grows linearly with the corpus and the per-anchor
    // cap fills with random co-bucket members — the r10 anchored
    // witness measured overall recall 0.012 at sf10 (200k random
    // vectors, 12.5k-member buckets, cap 200). Sizing bits from the
    // corpus (8 bands × clamp(log2(n/256), 4, 16) bits) keeps
    // expected occupancy ≤ ScaledTargetBucket, so every candidate
    // shares `bits` hyperplanes with its anchor and the cap rarely
    // binds; both gate SFs derive (8, 4), which is what the q168
    // oracle replays (the q309 pinned-shape precedent). Random unit
    // vectors remain the degenerate case for ANY LSH graph — the
    // witness numbers in PLANS.md quantify exactly what this buys.
    val (bands, bits) = scaledBandShape(corpus(s, dir).count())
    val banded = bandRows(
      emb.repartition(s.sparkContext.defaultParallelism), bands, bits)
    // Candidate generation is a rank-windowed bounded join — NOT a
    // collect_list + slice: the array spelling carries each bucket's
    // full id array through two explodes (one UnsafeRow copy per
    // output row), and the sf10 probe OOM'd exactly there on the
    // clone-heavy corpus (thousand-member identical-signature
    // buckets × multi-KB arrays). Here the partner side is pruned to
    // rn ≤ cap+1 BEFORE the join, so a bucket of ANY size costs
    // O(|bucket|·cap) narrow rows and no array ever materializes —
    // the semantics (first cap sorted others per anchor) and the
    // oracle text are unchanged.
    // Codes RIDE the banded rows (round-13): one id-keyed join of the
    // bands·n band rows against the int8 code zone, so the rescore is
    // computed INSIDE the bucket join's output pipeline and the
    // candidate stream — O(n·bands·occupancy) rows, ~4·10⁹ at 2M
    // vectors — never shuffles for code attachment. The old spelling
    // (.distinct() + two id-joins + one global rank window over the
    // raw candidates) shuffled that stream FOUR times: ~200 GB of
    // shuffle scratch at the sf100 probe, more than the probe box's
    // disk, and the per-candidate bytes a 100 TB run would pay too.
    val all = quantizedZone(s, dir)
    val bandedC = banded.join(all, Seq("vec_id"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bandVal")).orderBy(col("vec_id"))
    // Explicit-count repartition BEFORE the bucket window (r14): the
    // bucket join downstream expands |bucket|× (~325× at sf0.1), but
    // its task count is inherited from this exchange — and an
    // ENSURE_REQUIREMENTS exchange here gets AQE-coalesced from its
    // MAP-side bytes (~2 MB → 1 partition), which serialized the
    // whole candidate scoring + per-band top-k sort into one task
    // (measured: a 5.2M-row, 352 MiB single-task sort; exec 13.6 s →
    // 1.9 s at sf0.1). A user repartition with an explicit count is
    // exempt from coalescing; it satisfies the window's required
    // distribution, so no second exchange is added. Same rule as the
    // q52 re-key-after-expansion note — partitioning must be sized
    // for the stage's OUTPUT, which AQE cannot see.
    val parts = s.sessionState.conf.numShufflePartitions
    val bmem = bandedC
      .repartition(parts, col("band"), col("bandVal"))
      .withColumn("rn", row_number().over(wB))
    val partners = bmem
      .where(col("rn") <= maxBucket + 1)
      .select(col("band"), col("bandVal"),
        col("vec_id").as("neighbor_id"), col("rn").as("brn"),
        col("q_vec"), col("q_scale"))
    val scored = bmem
      .select(col("band"), col("bandVal"),
        col("vec_id").as("query_id"), col("rn").as("arn"),
        col("q_vec").as("qq"), col("q_scale").as("qs"))
      .join(partners, Seq("band", "bandVal"))
      .where(col("query_id") =!= col("neighbor_id") &&
        when(col("brn") < col("arn"), col("brn"))
          .otherwise(col("brn") - 1) <= maxBucket)
      .select(col("query_id"), col("neighbor_id"), col("band"),
        int8DotCol(col("q_vec"), col("qq")).as("qdot"),
        col("q_scale"), col("qs"))
      .select(col("query_id"), col("neighbor_id"), col("band"),
        col("qdot"),
        (col("qdot").cast("double") * col("q_scale").cast("double") *
          col("qs").cast("double") / lit(16129.0)).as("approx_cos"))
    // PER-BAND partial top-k before anything global (round-13): if a
    // neighbor is in a query's final distinct top-k, then in EVERY
    // band where the pair collides the candidates ranked above it are
    // distinct neighbors also above it globally — fewer than k of
    // them — so it survives that band's top-k. Exact, not lossy. The
    // bucket join's output is clustered by (band, bandVal), which
    // co-locates each (query, band) group, so Spark's partial
    // WindowGroupLimit reduces the stream to ≤ k rows per (query,
    // band) MAP-SIDE: the exchange then carries ≤ k·bands rows per
    // query (~10⁷ at 2M vectors) instead of the raw candidate stream
    // (~4·10⁹). Duplicate (query, neighbor) rows across bands carry
    // identical scores; one survives dropDuplicates, and the final
    // rank recomputes the same global (approx_cos desc, neighbor_id)
    // order the one-window spelling produced.
    val wQB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("band"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val perBand = scored
      .withColumn("brk", row_number().over(wQB))
      .where(col("brk") <= k)
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        col("approx_cos"))
    rankTopK(perBand, k, scoreCol = "approx_cos")
  }

  /** q168: banded kNN-graph WITNESS — the production ANN path under
    * the hash gate, closing the q155 gate-mode / scale-path split:
    * the per-anchor overlap between [[knnGraphBanded]] (SRP-banded
    * candidates + exact int8 rescore — the 100 TB path) and the
    * exact graph ([[knnGraphZone]]) is computed IN the query, with
    * the corpus-level recall bound emitted as a gated boolean
    * (`recall_ok`, pinned TRUE by the oracle — the q84/q133 witness
    * discipline). Both graphs are fully deterministic (deterministic
    * SRP signatures, sorted bucket lists, capped slices, exact
    * integer dots, id tie-breaks), so DuckDB replays the ENTIRE
    * banded pipeline — bucketing, per-anchor cap, rescore, rank —
    * and every per-anchor recall VALUE is hash-gated, not just the
    * bound.
    *
    * Scale shape: the banded side is the q168 production derivation
    * (bucketed, capped); the exact side reads the q155 zone while
    * the zone is exact (corpus ≤ `maxExact`). ABOVE the ceiling the
    * zone itself is banded, and comparing it against a fresh banded
    * derive would report recall 1.0 vacuously (the round-9 ADVICE
    * find — the sf10 sweep recorded exactly that meaningless
    * number), so there the witness flips roles: the exact side is
    * derived INDEPENDENTLY over a deterministic sampled anchor set
    * ([[exactAnchorGraph]] — `nAnchors` hash-smallest vectors, each
    * scored against the full corpus: O(nAnchors·n) dots, the linear
    * recall-estimation shape), and the banded side is the served
    * zone restricted to those anchors. The gate path (corpus well
    * under the ceiling at every gate SF) is byte-identical to the
    * old spelling; the anchored regime is forced and pinned in
    * SimilaritySpec via the `maxExact` dial.
    *
    * `withWitness = false` is the 100 TB drop as API (the q308
    * discipline, uniform across witnessed families since round 11):
    * the exact side — the O(n²) zone derive below the ceiling, the
    * O(nAnchors·n) anchored graph above it — and every recall column
    * disappear from plan and schema, leaving the served banded
    * graph's per-query neighbor counts: what serving actually pays.
    * The gate query keeps the default (witness on). */
  def knnBandedWitness(s: SparkSession, dir: String,
                       maxExact: Int = ExactKnnMaxN,
                       nAnchors: Int = WitnessAnchors,
                       withWitness: Boolean = true): DataFrame = {
    if (!withWitness)
      return knnGraphBanded(s, dir)
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_banded"))
        .orderBy("query_id")
    val (exactG, bandedG) =
      if (corpus(s, dir).count() <= maxExact)
        (knnGraphZone(s, dir), knnGraphBanded(s, dir))
      else {
        val ex = exactAnchorGraph(s, dir, GraphK, nAnchors)
        (ex, knnGraphZone(s, dir).join(
          ex.select(col("query_id")).distinct(), Seq("query_id"),
          "left_semi"))
      }
    val exact = exactG
      .select(col("query_id"), col("neighbor_id"))
    val banded = bandedG
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    // eager root: `per` is consumed TWICE (corpus total below + the
    // output rows), and without it the ENTIRE banded scoring pipeline
    // — the expensive subtree of this query — is planned twice (r15
    // plan audit: every Exchange/Window/WindowGroupLimit of
    // knnGraphBanded appeared 2×; runtime exchange reuse does not
    // cover the post-shuffle stages). One row per query: the same
    // O(result) footprint as q198's witness checkpoint.
    val per = Checkpoints.root(exact
      .join(banded, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit")))
    // corpus-level recall: exact BIGINT sums, ONE double division
    // (the q106 discipline) — rides a 1-row broadcast constant
    val tot = per.agg(
      (sum(col("n_hit")).cast("double") /
        sum(col("n_exact")).cast("double")).as("recall_overall"))
    per.crossJoin(broadcast(tot))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"),
        col("recall_overall"),
        (col("recall_overall") >= BandedRecallFloor).as("recall_ok"))
      .orderBy("query_id")
  }

  /** Rounds, beam width, entry count and pinned recall floor of the
    * q198 graph walk — shared by the Spark path, the oracle's
    * unrolled replay and SimilaritySpec. Multi-entry matters: a kNN
    * graph over RANDOM unit vectors (this synthetic corpus — the
    * q51/q168 hardest case) has no small-world shortcuts, so a
    * single-entry greedy walk strands in the entry's neighborhood
    * (measured recall 0.30 → 0.12 from sf0.01 → sf0.1);
    * [[WalkEntries]] hash-spread starts restore basin coverage the
    * way HNSW's upper layers do, without any extra graph state. */
  val WalkRounds = 4
  val WalkBeam = 8
  val WalkEntries = 8

  /** Pinned overall-recall floor. Random unit vectors are the
    * DEGENERATE case for graph navigation — neighbor-of-neighbor
    * proximity carries no information (measured mean cos ≈ 0.002
    * within AND across labels on this corpus), so walk recall decays
    * with corpus size by nature (measured 0.58 at sf0.01, 0.16 at
    * sf0.1 under these dials); clustered real embedding spaces are
    * what the operator exists for and measure far higher (the q168
    * floor's rationale, one step harsher). The floor pins the walk
    * above degenerate-broken on the worst case at every SF. */
  val WalkRecallFloor = 0.1

  /** q198: GRAPH-SERVED ANN — best-first beam search over the q155
    * kNN graph (the batch analog of the HNSW/DiskANN serving walk,
    * Malkov & Yashunin 2016 / Subramanya et al. 2019): all queries
    * start at a fixed entry node (min vec_id), and each round the
    * beam absorbs its out-neighbors, re-scores with the EXACT int8
    * dot, and keeps the top-[[WalkBeam]]; after [[WalkRounds]]
    * rounds the surviving beam (self excluded) ranks into the
    * final top-k. Every step is deterministic — fixed entry, exact
    * integer scores, id tie-breaks — so the oracle replays the
    * ENTIRE walk (unrolled round CTEs) and every returned neighbor
    * is hash-gated, with the q168 witness discipline on top:
    * per-row membership in the exact top-k plus a corpus-level
    * recall bound pinned TRUE.
    *
    * Scale shape: each round is one edge join keyed on the beam's
    * O(|queries|·beam) rows against the k-bounded edge zone, plus a
    * beam-sized code re-attach — the corpus never re-scans after the
    * graph is built, which is the point of graph serving: at 100 TB
    * the walk touches O(rounds·beam·k) codes per query while q50's
    * brute scan touches all of them. Rounds are a fixed unrolled
    * depth (no driver-side convergence loop); recall is measured,
    * not assumed, and the entry-point/diameter trade-off is the
    * documented dial (more rounds or a medoid entry for higher
    * recall). */
  def graphSearch(s: SparkSession, dir: String): DataFrame = {
    val codes = quantizedZone(s, dir)
    val q = codes.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q_vec").as("qq"),
        col("q_scale").as("qs"))
    val edges = knnGraphZone(s, dir)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    def score(cand: DataFrame): DataFrame =
      cand
        .join(codes.select(col("vec_id").as("node"), col("q_vec"),
          col("q_scale")), "node")
        .join(q, "query_id")
        .select(col("query_id"), col("node"),
          int8DotCol(col("q_vec"), col("qq")).as("qdot"),
          col("q_scale"), col("qs"))
        .select(col("query_id"), col("node"), col("qdot"),
          (col("qdot").cast("double") * col("q_scale").cast("double") *
            col("qs").cast("double") / lit(16129.0)).as("approx_cos"))
    // fixed entry set: the WalkEntries smallest salted-hash ids — a
    // hash-spread, corpus-independent pick (global TakeOrdered; no
    // dense-rank / single-partition window anywhere)
    val entry = codes
      .select(col("vec_id").as("node"),
        graft.dedup.Md5Prefix.h(
          concat(lit("walk-entry:"), col("vec_id").cast("string")))
          .as("eh"))
      .orderBy(col("eh"), col("node"))
      .limit(WalkEntries)
      .select(col("node"))
    // r14 (guide §2.4): self-loops on the edge relation replace the
    // per-round `∪ beam` union — `beam ⋈ edgesPlus` emits neighbors
    // AND the beam itself (identical set, identical dedup), and
    // unlike a union it PRESERVES the beam's partitioning. With the
    // beam hash-partitioned by query_id once up front, every round's
    // distinct (ClusteredDistribution(query_id, node) — satisfied by
    // the query_id partitioning) and top-beam window
    // (ClusteredDistribution(query_id)) then require NO exchange:
    // the whole fixed-depth walk pipelines as one stage at gate
    // scale (measured 15 jobs → ~6, exec 4.8 → ~1.5 s at sf0.1).
    // At corpus scale the edge join flips to a shuffle join and the
    // exchanges reappear exactly where they are needed — nothing
    // here pins a broadcast (the no-user-hint discipline).
    val edgesPlus = edges.unionByName(
      codes.select(col("vec_id").as("src"), col("vec_id").as("dst")))
    var beamDf = q.select(col("query_id")).crossJoin(entry)
      .repartition(col("query_id"))
    var scored: DataFrame = null
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("node"))
    (1 to WalkRounds).foreach { _ =>
      val expanded = beamDf.select(col("query_id"), col("node"))
        .join(edgesPlus, col("node") === col("src"))
        .select(col("query_id"), col("dst").as("node"))
        .distinct()
      scored = score(expanded)
      beamDf = scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= WalkBeam)
        .select(col("query_id"), col("node"))
    }
    // r14 (guide §3.3/§7.2): the witness below consumes `scored`
    // TWICE (the per-row membership join and the corpus-level recall
    // aggregate), which re-executed the entire unrolled walk subtree
    // per consumer and doubled the ~1200-operator plan the optimizer
    // must chew. One eager root of the final round's candidate set
    // (O(|queries|·beam·k) rows — bounded at every scale) runs the
    // walk once and truncates the witness lineage.
    scored = Checkpoints.root(scored)
    // final contract: top-k of the LAST round's scored candidate set,
    // self excluded (k ≤ beam, so the explicit beam cut is subsumed)
    val result = rankTopK(
      scored.where(col("node") =!= col("query_id"))
        .select(col("query_id"), col("node").as("neighbor_id"),
          col("qdot"), col("approx_cos")),
      GraphK, scoreCol = "approx_cos")
    // q168 witness discipline: exact-top-k membership per row plus a
    // pinned corpus-level recall bound
    val exact = knnGraphZone(s, dir)
      .where(col("query_id") < 10)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val flagged = result
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .withColumn("in_exact", coalesce(col("hit"), lit(0L)) === 1L)
      .drop("hit")
    val tot = flagged.agg(
      (sum(when(col("in_exact"), 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("recall_overall"))
    flagged.crossJoin(broadcast(tot))
      .withColumn("recall_ok", col("recall_overall") >= WalkRecallFloor)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("qdot"), col("approx_cos"), col("in_exact"),
        col("recall_overall"), col("recall_ok"))
      .orderBy("query_id", "rank")
  }

  /** q203: triangle census of the kNN graph — per-node triangle
    * counts and local clustering coefficients plus the global count
    * (the third graph-analytics member next to q180's PageRank and
    * the CC family): high clustering marks tight semantic
    * neighborhoods (candidate near-dup pockets), low clustering
    * marks hub/bridge vectors. Edges are the q155 graph symmetrized
    * to distinct (min, max) pairs; each triangle x<y<z is counted
    * once by the standard edge-iterator two-join (Schank & Wagner
    * 2005); the only doubles are the final coefficient ratios.
    *
    * Scale shape: on a k-bounded graph the triangle join is
    * O(n·k²) — degree is capped by construction, so the classic
    * skew-killer of triangle counting (celebrity nodes) cannot
    * occur; joins are edge-keyed shuffles, unhinted. */
  def triangleStats(s: SparkSession, dir: String): DataFrame = {
    val e = knnGraphZone(s, dir)
      .select(least(col("query_id"), col("neighbor_id")).as("a"),
        greatest(col("query_id"), col("neighbor_id")).as("b"))
      .distinct()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val tot = tri.agg(count(lit(1)).as("global_triangles"))
    corpus(s, dir).select(col("vec_id").as("id"))
      .join(deg, Seq("id"), "left")
      .join(perNode, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .crossJoin(broadcast(tot))
      .withColumn("clustering",
        when(col("degree") >= 2,
          lit(2.0) * col("n_triangles").cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)))
      .select(col("id"), col("degree"), col("n_triangles"),
        col("clustering"), col("global_triangles"))
      .orderBy("id")
  }

  /** q156: semantic dedup (SemDeDup-shaped) — embedding-space
    * duplicate pruning driven by the kNN graph: a graph edge scoring
    * approx_cos ≥ τ (q52's 0.45) joins its endpoints into one
    * cluster (connected components — q98's operator), and only the
    * min-id survivor of each cluster is kept. Differs from q107 on
    * the candidate structure: k bounds the degree (≤ k·n directed
    * edges total, never bucket²) and scoring is the exact int8
    * integer dot, so the whole chain — quantize, graph, threshold,
    * closure, survivor — is hash-gated. At scale the edge relation
    * comes from [[knnGraphBanded]] under the identical contract. */
  /** The semantic-dedup label derivation — exposed (package-private)
    * for PlanAuditSpec's no-hint pin; consumers go through the
    * memoized [[semanticDedup]]. */
  private[graft] def semanticDedupDerive(s: SparkSession,
                                         dir: String): DataFrame = {
    val edges = knnGraphZone(s, dir)
      .where(col("approx_cos") >= SemTau)
      .select(least(col("query_id"), col("neighbor_id")).as("a"),
        greatest(col("query_id"), col("neighbor_id")).as("b"))
      .distinct()
    val vecs = corpus(s, dir).select(col("vec_id"))
    val labels = graft.dedup.Dedup.connectedComponents(edges)
    vecs.join(labels, vecs("vec_id") === labels("id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
  }

  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    // memoized like q98's jaccard-labels: the CC fixpoint is an
    // iterative multi-job loop, deterministic per (dir, k, τ) — run
    // it once per application, let every later invocation scan the
    // stored labels
    graft.util.Scratch.memo(s, "sem-labels",
      s"sem-labels:$dir:$GraphK:$SemTau")(semanticDedupDerive(s, dir))
      .orderBy("vec_id")

  /** q164: domain-similarity matrix — cosine between per-label
    * centroid DIRECTIONS, the "which domains look alike in embedding
    * space" diagnostic behind mixing and curriculum decisions. Exact
    * and hash-gateable: each float component rounds to 10-bit fixed
    * point (round() agreement is the proven q143 contract), component
    * sums per (label, dim) are exact BIGINTs, the centroid dot is an
    * exact integer, and the final cosine is ONE fixed double
    * expression (dot / (√na·√nb) — sqrt is IEEE-correctly-rounded on
    * both engines). Overflow bound (Cauchy–Schwarz, each quantized
    * unit vector's L2 norm ≲ 2¹⁰): |dot_fp| ≤ (2¹⁰·n)², which
    * crosses BIGINT around n ≈ 3·10⁶ vectors per label — NOT 10⁸;
    * past it the dot wraps silently. So the query GUARDS the bound
    * ([[DomainSimMaxN]], raise_error on the |labels|-row relation —
    * zero per-vector cost); a larger corpus drops to a wider fixed
    * point per shard or pre-averages per-shard centroids.
    *
    * Scale shape: one corpus scan → (label, dim) partial-agg sums
    * (64·|labels| groups); everything after runs on the |labels|-row
    * centroid relation. */
  def domainSimilarity(s: SparkSession, dir: String): DataFrame = {
    val fx = corpus(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("label"), col("d"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)").as("r"))
    // every (label, dim) group holds exactly n_label rows, so the
    // vector count rides the SAME aggregate — one corpus scan total,
    // no second count branch
    val withN = fx.groupBy(col("label"), col("d"))
      .agg(sum(col("r")).as("sv"), count(lit(1)).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(d, sv))), " +
        "e -> e.sv)").as("cv"),
        max(col("c")).as("n0"))
      // overflow guard on the |labels|-row relation: past ~3·10⁶
      // vectors per label the fixed-point dot exceeds BIGINT and
      // would wrap silently — fail loudly instead (scaladoc above)
      .select(col("label"), col("cv"),
        when(col("n0") <= DomainSimMaxN, col("n0"))
          .otherwise(raise_error(concat(
            lit("domainSimilarity: label "), col("label"),
            lit(s" has more than $DomainSimMaxN vectors — the 10-bit " +
              "fixed-point dot would overflow BIGINT; use a wider " +
              "fixed point per shard"))).cast("long"))
          .as("n"))
    def dot(a: String, b: String) =
      expr(s"aggregate(zip_with($a, $b, (p, q) -> p * q), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    withN.select(col("label").as("label_a"), col("cv").as("ca"),
        col("n").as("n_a"))
      .join(withN.select(col("label").as("label_b"), col("cv").as("cb"),
        col("n").as("n_b")), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        dot("ca", "cb").as("dot_fp"),
        (dot("ca", "cb").cast("double") /
          (sqrt(dot("ca", "ca").cast("double")) *
            sqrt(dot("cb", "cb").cast("double")))).as("cos_centroid"))
      .orderBy("label_a", "label_b")
  }

  /** q107: embedding near-dup CLUSTERS — the q52 pair graph folded
    * into connected components with a survivor per cluster: the
    * semantic-dedup mirror of q98 (same
    * [[graft.dedup.Dedup.connectedComponents]] star-contraction
    * operator, different edge relation). Oracle replays the q52
    * pipeline and closes it with a recursive CTE. */
  /** The embedding-cluster label derivation — exposed
    * (package-private) for PlanAuditSpec's no-hint pin; consumers go
    * through the memoized [[embeddingClusters]]. */
  private[graft] def embeddingClustersDerive(s: SparkSession,
                                             dir: String): DataFrame = {
    val vecs = corpus(s, dir).select(col("vec_id"))
    val pairs = nearDupPairZone(s, dir)
      .select(col("id1").as("a"), col("id2").as("b"))
    val labels = graft.dedup.Dedup.connectedComponents(pairs)
    vecs.join(labels, vecs("vec_id") === labels("id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
  }

  def embeddingClusters(s: SparkSession, dir: String): DataFrame =
    // memoized (the q98 jaccard-labels discipline): one CC loop per
    // application over the q52 pair zone, not one per consumer/run
    graft.util.Scratch.memo(s, "srp-labels",
      s"srp-labels:$dir")(embeddingClustersDerive(s, dir))
      .orderBy("vec_id")

  /** q148: hard-negative mining — for each query vector, the top-k
    * most-similar corpus vectors whose class `label` DIFFERS from the
    * query's: the contrastive-training counterpart of q50 (a hard
    * negative is "looks like me, isn't me" — the pairs that actually
    * move an embedding model). Same broadcast-query / one-corpus-scan
    * shape and [[rankTopK]] contract as q50; the label inequality
    * rides in the join condition, so same-class pairs are rejected
    * during the scan and never materialize. */
  def hardNegatives(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val all = corpus(s, dir)
    val q = all.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val scored = all.join(broadcast(q),
        col("vec_id") =!= col("query_id") &&
          col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        dotCol(col("embedding"), col("qv")).as("cosine"))
    rankTopK(scored, k)
  }

  /** Eval-slice hash modulus of [[semanticDecontam]] — shared with
    * its oracle SQL (≈5% of vectors land in the eval slice). */
  val DecontamMod = 20

  /** q175: SEMANTIC decontamination — the embedding-space complement
    * of q141's exact n-gram decontamination: flag every train vector
    * whose cosine to ANY eval-slice vector clears the near-dup
    * threshold ([[SemTau]]). Exact 13-gram matching misses
    * paraphrased leakage; embedding similarity is how production
    * pipelines audit it (the SemDeDup/eval-contamination literature).
    * The eval slice is a deterministic hash split (the q102
    * discipline) so the gate needs no eval table; scoring runs on
    * the shared int8 zone with the exact integer dot and ONE
    * de-scale expression (the q143 contract — hash-gateable because
    * no float accumulates).
    *
    * GATE mode is deliberately brute (train × eval/20, the q155
    * all-pairs precedent — DuckDB replays it bit-for-bit; the
    * streamed side is spread like the q155 derive). The production
    * path at corpus scale is the banded candidate machinery the q168
    * witness gates: same SRP buckets, same exact rescore, recall
    * measured — only the candidate generation changes. */
  def semanticDecontam(s: SparkSession, dir: String,
                       tau: Double = SemTau): DataFrame = {
    import graft.dedup.Md5Prefix
    val codes = quantizedZone(s, dir)
    val isEval =
      Md5Prefix.h(col("vec_id").cast("string")) % DecontamMod === 0
    val ev = codes.where(isEval)
      .select(col("vec_id").as("eval_id"), col("q_vec").as("ev"),
        col("q_scale").as("es"))
    val train = codes.where(!isEval)
      .repartition(s.sparkContext.defaultParallelism)
    val hits = train.join(ev, col("vec_id") =!= col("eval_id"))
      .select(col("vec_id"),
        (int8DotCol(col("q_vec"), col("ev")).cast("double") *
          col("q_scale").cast("double") * col("es").cast("double") /
          lit(16129.0)).as("approx_cos"))
      .where(col("approx_cos") >= tau)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(col("approx_cos")).as("max_cos"))
    train.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        col("max_cos"),
        (coalesce(col("n_eval_hits"), lit(0L)) > 0).as("flagged"))
      .orderBy("vec_id")
  }

  /** q251's report size. */
  val OutlierM = 25

  /** q251: embedding outliers by k-th-neighbor similarity — the
    * classic kNN anomaly score (Ramaswamy et al., SIGMOD 2000): a
    * vector whose 5th-nearest neighbor is still far away sits in
    * empty space — mislabeled, corrupt, or genuinely novel content a
    * curation pass inspects first. Reads the rank-k row straight off
    * the shared q155 graph zone (the score is a fixed double
    * expression over exact int8 dots) and takes the BOTTOM-[[OutlierM]]
    * via the distributed heap (TakeOrdered — no global sort). */
  def knnOutliers(s: SparkSession, dir: String): DataFrame =
    knnGraphZone(s, dir)
      .where(col("rank") === GraphK)
      .select(col("query_id").as("vec_id"),
        col("approx_cos").as("kth_cos"))
      .orderBy(col("kth_cos").asc, col("vec_id"))
      .limit(OutlierM)

  /** q256: text↔embedding ALIGNMENT audit — do the q37 MinHash text
    * near-dup pairs also look close in embedding space? Each pair is
    * rescored with the exact int8 dot (the q143 kernel; vec_id aligns
    * with doc_id in this corpus, the q148 correspondence) and the
    * audit reports only ORDER-INDEPENDENT statistics — pair count,
    * how many score a positive cosine, min and max — because a mean
    * of floats would hash differently per summation order (the
    * discipline that keeps every gate exact). Two signal families
    * agreeing is the cross-check a curation pipeline wants before
    * trusting either alone.
    *
    * Scale shape: the pair relation is the existing bucketed LSH
    * derivation; vectors re-attach by id (unhinted); one rollup. */
  def textEmbedAlign(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup
      .minhashLshPairs(s, dir, hash = graft.dedup.Md5Prefix)
      .select(col("id1"), col("id2"))
    val qz = quantizedZone(s, dir)
    val cos = pairs
      .join(qz.select(col("vec_id").as("id1"), col("q_vec").as("v1"),
        col("q_scale").as("s1")), "id1")
      .join(qz.select(col("vec_id").as("id2"), col("q_vec").as("v2"),
        col("q_scale").as("s2")), "id2")
      .select((int8DotCol(col("v1"), col("v2")).cast("double") *
        col("s1").cast("double") * col("s2").cast("double") /
        lit(16129.0)).as("cos"))
    cos.agg(count(lit(1)).as("n_pairs"),
      sum(when(col("cos") > 0.0, 1L).otherwise(0L)).as("n_pos_cos"),
      min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
  }

  /** The ±1 projection matrix as a DuckDB VALUES relation `proj(b, p)`
    * — generated from [[projections]] itself so the oracle can never
    * drift from the Spark-side constants. */
  private def projSqlValues: String =
    projections.zipWithIndex.map { case (row, b) =>
      s"($b, CAST([${row.map(_.toInt).mkString(", ")}] AS FLOAT[]))"
    }.mkString(", ")

  /** First n rows of the EXTENDED projection matrix (the scaled
    * path's draw) as a VALUES relation — generated from [[projRow]]
    * itself, same no-drift rule. */
  private def projScaledValues(n: Int): String =
    (0 until n).map { b =>
      s"($b, CAST([${projRow(b).map(_.toInt).mkString(", ")}] AS FLOAT[]))"
    }.mkString(", ")

  /** FloatDot's exact semantics in DuckDB: float products, widened and
    * summed sequentially into a double seed. `d` = the dot width
    * (default the full embedding; q312 passes the truncated prefix). */
  private def dotSql(a: String, b: String, d: Int = Dim): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"[$a[i] * $b[i] for i in range(1, ${d + 1})]), (acc, x) -> acc + x)"

  /** Shared signature/banding CTE prefix for the q51/q52 oracles. */
  private def sigCtes: String =
    s"""WITH proj(b, p) AS (VALUES $projSqlValues),
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN
       |      ${dotSql("embedding", "p")} > 0
       |    THEN (1 << b) ELSE 0 END) AS INTEGER) AS sig
       |  FROM emb CROSS JOIN proj GROUP BY vec_id
       |),
       |banded AS (
       |  SELECT vec_id, t.b AS band, (sig >> (t.b * $BandBits)) & ${(1 << BandBits) - 1} AS bandVal
       |  FROM sigs CROSS JOIN range($Bands) t(b)
       |)""".stripMargin

  /** Shared int8-quantization CTE prefix (per-vector scale + TINYINT
    * codes) — ONE spelling for the q143/q155/q156 oracles so the
    * quantization contract cannot drift within the family. */
  private def int8CtesSql: String =
    s"""qz AS (
       |  SELECT vec_id,
       |    list_reduce(list_prepend(CAST(0 AS FLOAT),
       |      [CAST(abs(x) AS FLOAT) for x in embedding]),
       |      (m, x) -> greatest(m, x)) AS q_scale,
       |    embedding
       |  FROM embeddings
       |), codes AS (
       |  SELECT vec_id, q_scale,
       |    [CAST(round(CAST(x AS DOUBLE) / CAST(q_scale AS DOUBLE)
       |       * 127.0) AS TINYINT) for x in embedding] AS q_vec
       |  FROM qz
       |)""".stripMargin

  /** The exact BIGINT dot of two int8 code lists (aliases c / q). */
  private def int8DotSql: String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      [CAST(c.q_vec[i] AS BIGINT) * CAST(q.q_vec[i] AS BIGINT)
       |       for i in range(1, ${Dim + 1})]),
       |      (acc, x) -> acc + x)""".stripMargin

  /** All-pairs int8 scored + ranked CTEs — q155's exact graph (every
    * vector an anchor); q156 thresholds and closes it. q143 narrows
    * the anchor side to the 10-query set instead. */
  private def knnGraphCtesSql: String =
    s"""$int8CtesSql, scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    $int8DotSql AS qdot,
       |    c.q_scale AS sa, q.q_scale AS sq
       |  FROM codes c JOIN codes q ON c.vec_id != q.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, qdot,
       |    CAST(qdot AS DOUBLE) * CAST(sa AS DOUBLE) * CAST(sq AS DOUBLE)
       |      / 16129.0 AS approx_cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY CAST(qdot AS DOUBLE) * CAST(sa AS DOUBLE)
       |        * CAST(sq AS DOUBLE) / 16129.0 DESC, neighbor_id) AS rank
       |  FROM scored
       |)""".stripMargin

  /** The q155 edge relation as a MATERIALIZED DuckDB CTE chain —
    * shared with q180's PageRank oracle (the knnGraphCtesSql prefix
    * would otherwise re-inline its corpus² scoring once per
    * iteration CTE). */
  private[graft] def knnEdgesSql: String =
    s"""$knnGraphCtesSql,
       |edges AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= $GraphK
       |)""".stripMargin

  /** The q198 walk's unrolled round CTEs: for round r, `c_r` =
    * previous beam ∪ its out-neighbors (dedup), `s_r` = exact int8
    * rescore, `b_r` = top-[[WalkBeam]] per query. Generated from the
    * SAME constants the Spark loop uses, so round count and beam
    * width cannot drift between engines. */
  private def walkRoundsSql: String =
    (1 to WalkRounds).map { r =>
      val prev = if (r == 1) "b0" else s"b${r - 1}"
      s"""c$r AS (
         |  SELECT DISTINCT query_id, node FROM (
         |    SELECT query_id, node FROM $prev
         |    UNION ALL
         |    SELECT b.query_id, e.neighbor_id AS node
         |    FROM $prev b JOIN edges e ON e.query_id = b.node)
         |),
         |s$r AS (
         |  SELECT query_id, node, qdot,
         |    CAST(qdot AS DOUBLE) * CAST(sa AS DOUBLE)
         |      * CAST(sq AS DOUBLE) / 16129.0 AS approx_cos
         |  FROM (
         |    SELECT x.query_id, x.node, $int8DotSql AS qdot,
         |      c.q_scale AS sa, q.q_scale AS sq
         |    FROM c$r x
         |    JOIN codes c ON c.vec_id = x.node
         |    JOIN codes q ON q.vec_id = x.query_id)
         |),
         |b$r AS (
         |  SELECT query_id, node FROM (
         |    SELECT query_id, node, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY approx_cos DESC, node) AS rn
         |    FROM s$r) WHERE rn <= $WalkBeam
         |)""".stripMargin
    }.mkString(",\n")

  /** Exact top-k over the full corpus — the oracle for q50 (brute
    * force) and for q53's exact-mode gate entry (probe-all IVF ≡ brute
    * force; the quantizer only routes, it never changes the candidate
    * set when every cell is probed). */
  /** q312's oracle: the q50 brute CTE extended with the prefix dot,
    * two rank windows, recall rollup over the full-rank top-k rows. */
  private def dimAblationSql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dotSql("c.embedding", "q.embedding")} AS cf,
       |    ${dotSql("c.embedding", "q.embedding", AblateDim)} AS ch
       |  FROM embeddings c JOIN embeddings q
       |    ON q.vec_id < 10 AND c.vec_id != q.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cf DESC, neighbor_id) AS rf,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ch DESC, neighbor_id) AS rh
       |  FROM scored
       |)
       |SELECT query_id,
       |  CAST(sum(CASE WHEN rh <= 5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_overlap,
       |  CAST(sum(CASE WHEN rh <= 5 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / 5.0 AS recall_at_k
       |FROM ranked WHERE rf <= 5
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private def bruteTopkSql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dotSql("c.embedding", "q.embedding")} AS cosine
       |  FROM embeddings c JOIN embeddings q
       |    ON q.vec_id < 10 AND c.vec_id != q.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  lazy val records: Seq[Query] = Seq(
    // the q37 pair oracle embedded verbatim; vectors re-attached as
    // the c/q aliases the shared int8 dot spelling expects
    Query("q256_text_embed_align", textEmbedAlign(_, _),
      s"""WITH $int8CtesSql,
         |pr AS MATERIALIZED (
         |  SELECT id1, id2 FROM (
         |${graft.dedup.Dedup.oracle("q37_minhash_lsh")}
         |  ) t),
         |sc AS (
         |  SELECT CAST($int8DotSql AS DOUBLE)
         |    * CAST(c.q_scale AS DOUBLE) * CAST(q.q_scale AS DOUBLE)
         |    / 16129.0 AS cos
         |  FROM pr
         |  JOIN codes c ON c.vec_id = pr.id1
         |  JOIN codes q ON q.vec_id = pr.id2)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN cos > 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos_cos,
         |  min(cos) AS min_cos, max(cos) AS max_cos
         |FROM sc""".stripMargin),
    Query("q251_knn_outliers", knnOutliers(_, _),
      s"""WITH $knnGraphCtesSql
         |SELECT query_id AS vec_id, approx_cos AS kth_cos
         |FROM ranked WHERE rank = $GraphK
         |ORDER BY kth_cos ASC, vec_id LIMIT $OutlierM""".stripMargin),
    Query("q175_semantic_decontam", semanticDecontam(_, _),
      s"""WITH $int8CtesSql,
         |ev0 AS (
         |  SELECT vec_id,
         |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
         |      % $DecontamMod = 0 AS is_eval
         |  FROM codes),
         |tr AS (
         |  SELECT codes.* FROM codes JOIN ev0 USING (vec_id)
         |  WHERE NOT is_eval),
         |evs AS (
         |  SELECT codes.* FROM codes JOIN ev0 USING (vec_id)
         |  WHERE is_eval),
         |sc AS (
         |  SELECT c.vec_id,
         |    CAST($int8DotSql AS DOUBLE) * CAST(c.q_scale AS DOUBLE)
         |      * CAST(q.q_scale AS DOUBLE) / 16129.0 AS approx_cos
         |  FROM tr c JOIN evs q ON c.vec_id != q.vec_id),
         |h AS (
         |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
         |    max(approx_cos) AS max_cos
         |  FROM sc WHERE approx_cos >= $SemTau GROUP BY 1)
         |SELECT tr.vec_id,
         |  coalesce(h.n_eval_hits, 0) AS n_eval_hits, h.max_cos,
         |  coalesce(h.n_eval_hits, 0) > 0 AS flagged
         |FROM tr LEFT JOIN h USING (vec_id) ORDER BY tr.vec_id""".stripMargin),
    Query("q148_hard_negatives", hardNegatives(_, _),
      s"""WITH scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    c.label AS neg_label,
         |    ${dotSql("c.embedding", "q.embedding")} AS cosine
         |  FROM embeddings c JOIN embeddings q
         |    ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |      AND c.label != q.label
         |), ranked AS (
         |  SELECT query_id, neighbor_id, neg_label, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, neg_label, cosine, rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Query("q50_knn_brute", knnBrute(_, _), bruteTopkSql),
    Query("q312_dim_ablation", dimAblation(_, _), dimAblationSql),
    // Exact mode (probe all cells): the full IVF machinery runs, and
    // the result ≡ brute force, so the k-means-free oracle applies.
    Query("q53_knn_ivf", knnIvf(_, _, nCells = IvfCells, nProbe = IvfCells),
      bruteTopkSql),
    // the BUILD→WRITE→SERVE round trip under the hash gate: probe-all
    // from the cell-partitioned zone ≡ brute force (the q53 contract,
    // now including the parquet partitioning round trip)
    Query("q163_ivf_served", (s, d) => {
      // zone lives under the managed scratch root (memoized per dir):
      // repeated gate runs serve ONE built artifact, and the copy is
      // reclaimed by Scratch.clear / JVM-exit cleanup instead of
      // leaking a corpus copy per invocation
      val zoneDir = graft.util.Scratch.memoZone(s, "ivf-serve",
        s"ivf-serve:$d")(p => IvfServe.build(s, d, p))
      val q = corpus(s, d).where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      IvfServe.search(s, zoneDir, q, k = 5, nProbe = IvfCells)
    }, bruteTopkSql),
    // the INCREMENTAL serve path under the hash gate: zone built on a
    // partial corpus (vec_id ≥ 50), the rest folded in as a
    // maintenance batch (centroid-replay assignment, cell-local
    // appends, NO re-fit), then probe-all search — candidates = the
    // whole maintained zone, so the result ≡ brute force over the
    // full corpus regardless of the partial fit (the q53/q163
    // contract, now through applyBatch)
    Query("q170_ivf_maintained", (s, d) => {
      val root = graft.util.Scratch.memoZone(s, "ivf-maint",
        s"ivf-maint:$d") { p =>
        val all = corpus(s, d)
        all.where(col("vec_id") >= 50)
          .write.mode("overwrite").parquet(s"$p/partial/embeddings.parquet")
        IvfServe.build(s, s"$p/partial", s"$p/zone")
        IvfServe.applyBatch(s, s"$p/zone",
          all.where(col("vec_id") < 50)): Unit
      }
      val q = corpus(s, d).where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      IvfServe.search(s, s"$root/zone", q, k = 5, nProbe = IvfCells)
    }, bruteTopkSql),
    // fixed-point centroid replay: 10-bit rounds, BIGINT sums/dots,
    // one double cosine expression
    Query("q164_domain_similarity", domainSimilarity(_, _),
      s"""WITH fx AS (
         |  SELECT label, u.d, CAST(round(CAST(u.x AS DOUBLE) * 1024)
         |    AS BIGINT) AS r
         |  FROM embeddings JOIN LATERAL (
         |    SELECT unnest(embedding) AS x,
         |      generate_subscripts(embedding, 1) - 1 AS d) u ON true),
         |cent AS (
         |  SELECT label, list(sv ORDER BY d) AS cv FROM (
         |    SELECT label, d, CAST(sum(r) AS BIGINT) AS sv
         |    FROM fx GROUP BY 1, 2) GROUP BY label),
         |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n
         |      FROM embeddings GROUP BY 1),
         |wn AS (SELECT cent.label, cv, n FROM cent JOIN n USING (label))
         |SELECT a.label AS label_a, b.label AS label_b,
         |  a.n AS n_a, b.n AS n_b,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [a.cv[i] * b.cv[i] for i in range(1, ${Dim + 1})]),
         |    (acc, v) -> acc + v) AS dot_fp,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [a.cv[i] * b.cv[i] for i in range(1, ${Dim + 1})]),
         |    (acc, v) -> acc + v) AS DOUBLE) /
         |  (sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [a.cv[i] * a.cv[i] for i in range(1, ${Dim + 1})]),
         |    (acc, v) -> acc + v) AS DOUBLE)) *
         |   sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [b.cv[i] * b.cv[i] for i in range(1, ${Dim + 1})]),
         |    (acc, v) -> acc + v) AS DOUBLE))) AS cos_centroid
         |FROM wn a JOIN wn b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin),
    // full int8 replay: float max-abs scale, double-divide round-half-
    // away to TINYINT codes, exact BIGINT dot, one de-scale expression
    Query("q143_knn_quantized", knnQuantized(_, _),
      s"""WITH $int8CtesSql, scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    $int8DotSql AS qdot,
         |    c.q_scale AS sa, q.q_scale AS sq
         |  FROM codes c JOIN codes q
         |    ON q.vec_id < 10 AND c.vec_id != q.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, qdot,
         |    CAST(qdot AS DOUBLE) * CAST(sa AS DOUBLE) * CAST(sq AS DOUBLE)
         |      / 16129.0 AS approx_cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY CAST(qdot AS DOUBLE) * CAST(sa AS DOUBLE)
         |        * CAST(sq AS DOUBLE) / 16129.0 DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, qdot, approx_cos, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // the exact graph: q143's replay without the anchor-set filter
    Query("q155_knn_graph", knnGraph(_, _),
      s"""WITH $knnGraphCtesSql
         |SELECT query_id, neighbor_id, qdot, approx_cos, rank
         |FROM ranked WHERE rank <= $GraphK
         |ORDER BY query_id, rank""".stripMargin),
    // full banded-pipeline replay: SRP signatures → band buckets
    // (sorted ids) → per-anchor capped candidates (the rank
    // arithmetic below ≡ Spark's slice(filter(ids, y != x), 1, cap)
    // over the SORTED bucket list: b's position in a's self-filtered
    // list is b.rn when b.rn < a.rn, else b.rn − 1) → exact int8
    // rescore → rank → per-anchor overlap vs the exact graph
    // the banded side replays the CORPUS-SCALED banding at the shape
    // both gate SFs derive — scaledBandShape(500) = scaledBandShape
    // (2000) = (8 bands, 4 bits) — the q309 pinned-shape precedent
    Query("q168_knn_banded_witness", knnBandedWitness(_, _),
      s"""WITH proj(b, p) AS (VALUES ${projScaledValues(ScaledBands * 4)}),
         |emb AS (SELECT vec_id, embedding FROM embeddings),
         |banded AS (
         |  SELECT vec_id, CAST(b // 4 AS INTEGER) AS band,
         |    CAST(sum(CASE WHEN ${dotSql("embedding", "p")} > 0
         |      THEN (CAST(1 AS BIGINT) << (b % 4)) ELSE 0 END)
         |      AS BIGINT) AS bandVal
         |  FROM emb CROSS JOIN proj GROUP BY 1, 2
         |), $knnGraphCtesSql,
         |exactk AS (
         |  SELECT query_id, neighbor_id FROM ranked
         |  WHERE rank <= $GraphK
         |),
         |bmem AS (
         |  SELECT band, bandVal, vec_id,
         |    row_number() OVER (PARTITION BY band, bandVal
         |      ORDER BY vec_id) AS rn,
         |    count(*) OVER (PARTITION BY band, bandVal) AS sz
         |  FROM banded
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM bmem a JOIN bmem b
         |    ON a.band = b.band AND a.bandVal = b.bandVal
         |      AND a.vec_id != b.vec_id
         |      AND (CASE WHEN b.rn < a.rn THEN b.rn ELSE b.rn - 1 END)
         |        <= $GraphMaxBucket
         |  WHERE a.sz >= 2
         |),
         |bscored AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    $int8DotSql AS qdot,
         |    c.q_scale AS sa, q.q_scale AS sq
         |  FROM cand
         |  JOIN codes q ON q.vec_id = cand.query_id
         |  JOIN codes c ON c.vec_id = cand.neighbor_id
         |),
         |branked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY CAST(qdot AS DOUBLE) * CAST(sa AS DOUBLE)
         |        * CAST(sq AS DOUBLE) / 16129.0 DESC, neighbor_id)
         |      AS rank
         |  FROM bscored
         |),
         |bandedk AS (
         |  SELECT query_id, neighbor_id FROM branked
         |  WHERE rank <= $GraphK
         |),
         |per AS (
         |  SELECT e.query_id,
         |    CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(CASE WHEN bk.neighbor_id IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM exactk e LEFT JOIN bandedk bk
         |    ON e.query_id = bk.query_id
         |      AND e.neighbor_id = bk.neighbor_id
         |  GROUP BY e.query_id
         |),
         |tot AS (
         |  SELECT CAST(sum(n_hit) AS DOUBLE)
         |    / CAST(sum(n_exact) AS DOUBLE) AS recall_overall
         |  FROM per
         |)
         |SELECT per.query_id, per.n_exact, per.n_hit,
         |  CAST(per.n_hit AS DOUBLE) / CAST(per.n_exact AS DOUBLE)
         |    AS recall,
         |  tot.recall_overall,
         |  tot.recall_overall >= $BandedRecallFloor AS recall_ok
         |FROM per, tot
         |ORDER BY query_id""".stripMargin),
    // full unrolled replay of the beam walk: entry → (expand beam
    // through the materialized q155 edges → exact int8 rescore →
    // top-beam) × WalkRounds → final top-k (self excluded) →
    // exact-top-k membership + pinned overall recall
    Query("q198_graph_search", graphSearch(_, _),
      s"""WITH $knnEdgesSql,
         |exactk AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM ranked
         |  WHERE rank <= $GraphK AND query_id < 10
         |),
         |ent AS (
         |  SELECT vec_id AS node FROM codes
         |  ORDER BY ('0x' || substr(md5('walk-entry:'
         |    || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
         |  LIMIT $WalkEntries
         |),
         |b0 AS (
         |  SELECT q.vec_id AS query_id, e.node
         |  FROM codes q CROSS JOIN ent e
         |  WHERE q.vec_id < 10
         |),
         |$walkRoundsSql,
         |fin AS (
         |  SELECT query_id, node AS neighbor_id, qdot, approx_cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_cos DESC, node) AS rank
         |  FROM s$WalkRounds WHERE node != query_id
         |),
         |fl AS (
         |  SELECT f.query_id, f.rank, f.neighbor_id, f.qdot,
         |    f.approx_cos, (e.neighbor_id IS NOT NULL) AS in_exact
         |  FROM fin f LEFT JOIN exactk e
         |    ON e.query_id = f.query_id
         |      AND e.neighbor_id = f.neighbor_id
         |  WHERE f.rank <= $GraphK
         |),
         |tot AS (
         |  SELECT CAST(sum(CASE WHEN in_exact THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_overall
         |  FROM fl
         |)
         |SELECT query_id, rank, neighbor_id, qdot, approx_cos,
         |  in_exact, recall_overall,
         |  recall_overall >= $WalkRecallFloor AS recall_ok
         |FROM fl, tot
         |ORDER BY query_id, rank""".stripMargin),
    // symmetrized distinct edges → edge-iterator two-join (each
    // x<y<z once) → per-node explode + degree → coefficient ratios
    Query("q203_triangle_stats", triangleStats(_, _),
      s"""WITH $knnEdgesSql,
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(query_id, neighbor_id) AS a,
         |    greatest(query_id, neighbor_id) AS b
         |  FROM edges
         |),
         |tri AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1
         |  JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
         |),
         |pn AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM (SELECT x AS id FROM tri UNION ALL
         |        SELECT y FROM tri UNION ALL
         |        SELECT z FROM tri)
         |  GROUP BY 1
         |),
         |dg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS degree
         |  FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY 1
         |),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS global_triangles
         |        FROM tri)
         |SELECT v.vec_id AS id,
         |  coalesce(dg.degree, 0) AS degree,
         |  coalesce(pn.n_triangles, 0) AS n_triangles,
         |  CASE WHEN coalesce(dg.degree, 0) >= 2
         |    THEN 2.0 * CAST(coalesce(pn.n_triangles, 0) AS DOUBLE)
         |      / CAST(coalesce(dg.degree, 0)
         |          * (coalesce(dg.degree, 0) - 1) AS DOUBLE)
         |    ELSE 0.0 END AS clustering,
         |  tot.global_triangles
         |FROM embeddings v
         |LEFT JOIN dg ON dg.id = v.vec_id
         |LEFT JOIN pn ON pn.id = v.vec_id
         |CROSS JOIN tot
         |ORDER BY id""".stripMargin),
    // graph edges above τ, symmetrized, closed with the q98-family
    // recursive CTE; min-id survivor per component
    Query("q156_semantic_dedup", semanticDedup(_, _),
      s"""WITH RECURSIVE $knnGraphCtesSql, g AS (
         |  SELECT DISTINCT least(query_id, neighbor_id) AS a,
         |    greatest(query_id, neighbor_id) AS b
         |  FROM ranked WHERE rank <= $GraphK AND approx_cos >= $SemTau
         |), e(src, dst) AS (
         |  SELECT a, b FROM g UNION ALL SELECT b, a FROM g
         |), reach(id, label) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.id
         |)
         |SELECT id AS vec_id, min(label) AS cluster_id,
         |  (id = min(label)) AS keep
         |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin),
    Query("q51_knn_lsh", knnLsh(_, _),
      (sigCtes +
        s""",
         |qb AS (SELECT vec_id AS query_id, band, bandVal
         |       FROM banded WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
         |  FROM banded c JOIN qb q
         |    ON c.band = q.band AND c.bandVal = q.bandVal
         |      AND c.vec_id != q.query_id
         |),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    ${dotSql("e2.embedding", "e1.embedding")} AS cosine
         |  FROM cand JOIN emb e1 ON e1.vec_id = query_id
         |            JOIN emb e2 ON e2.vec_id = neighbor_id
         |),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, cosine, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // q51's chain with the probe set widened to Hamming-1 band
    // values; single-probe and exact rankings re-derived for the
    // witness columns (`no_worse` is structural — see scaladoc)
    Query("q194_multiprobe_lsh", knnLshMultiProbe(_, _),
      (sigCtes +
        s""",
         |qb AS (SELECT vec_id AS query_id, band, bandVal
         |       FROM banded WHERE vec_id < 10),
         |pr AS (
         |  SELECT DISTINCT query_id, band, pv AS bandVal FROM (
         |    SELECT query_id, band,
         |      unnest([bandVal] ||
         |        [xor(bandVal, 1 << i) for i in range(0, $BandBits)])
         |        AS pv
         |    FROM qb)),
         |mcand AS (
         |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
         |  FROM banded c JOIN pr q
         |    ON c.band = q.band AND c.bandVal = q.bandVal
         |      AND c.vec_id != q.query_id),
         |mscored AS (
         |  SELECT query_id, neighbor_id,
         |    ${dotSql("e2.embedding", "e1.embedding")} AS cosine
         |  FROM mcand JOIN emb e1 ON e1.vec_id = query_id
         |             JOIN emb e2 ON e2.vec_id = neighbor_id),
         |mtop AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM mscored),
         |scand AS (
         |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
         |  FROM banded c JOIN qb q
         |    ON c.band = q.band AND c.bandVal = q.bandVal
         |      AND c.vec_id != q.query_id),
         |sscored AS (
         |  SELECT query_id, neighbor_id,
         |    ${dotSql("e2.embedding", "e1.embedding")} AS cosine
         |  FROM scand JOIN emb e1 ON e1.vec_id = query_id
         |             JOIN emb e2 ON e2.vec_id = neighbor_id),
         |stop AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM sscored),
         |escored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("c.embedding", "q.embedding")} AS cosine
         |  FROM emb c JOIN emb q
         |    ON q.vec_id < 10 AND c.vec_id != q.vec_id),
         |etop AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM escored),
         |hm AS (
         |  SELECT m.query_id, CAST(count(*) AS BIGINT) AS hits_multi
         |  FROM mtop m JOIN etop e ON e.query_id = m.query_id
         |    AND e.neighbor_id = m.neighbor_id AND e.rank <= 5
         |  WHERE m.rank <= 5 GROUP BY 1),
         |hs AS (
         |  SELECT s.query_id, CAST(count(*) AS BIGINT) AS hits_single
         |  FROM stop s JOIN etop e ON e.query_id = s.query_id
         |    AND e.neighbor_id = s.neighbor_id AND e.rank <= 5
         |  WHERE s.rank <= 5 GROUP BY 1)
         |SELECT m.query_id, m.neighbor_id, m.cosine,
         |  CAST(m.rank AS INTEGER) AS rank,
         |  coalesce(hm.hits_multi, 0) AS hits_multi,
         |  coalesce(hs.hits_single, 0) AS hits_single,
         |  coalesce(hm.hits_multi, 0) >= coalesce(hs.hits_single, 0)
         |    AS no_worse
         |FROM mtop m
         |LEFT JOIN hm ON hm.query_id = m.query_id
         |LEFT JOIN hs ON hs.query_id = m.query_id
         |WHERE m.rank <= 5
         |ORDER BY m.query_id, m.rank""".stripMargin)),
    Query("q52_embedding_neardup", nearDupPairs(_, _),
      (sigCtes +
        s""",
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
         |  FROM banded a JOIN banded c
         |    ON a.band = c.band AND a.bandVal = c.bandVal
         |      AND a.vec_id < c.vec_id
         |),
         |scored AS (
         |  SELECT id1, id2,
         |    ${dotSql("e1.embedding", "e2.embedding")} AS cosine
         |  FROM cand JOIN emb e1 ON e1.vec_id = id1
         |            JOIN emb e2 ON e2.vec_id = id2
         |)
         |SELECT id1, id2, cosine FROM scored
         |WHERE cosine >= 0.45 ORDER BY id1, id2""".stripMargin)),
    // the scaled path's fixed 8×4 shape: unpacked band values over 32
    // projections (bands 0–3 ≡ the q52 signature's draw)
    Query("q309_scaled_neardup", scaledNearDup(_, _),
      s"""WITH proj(b, p) AS (VALUES ${projScaledValues(ScaledBands * 4)}),
         |emb AS (SELECT vec_id, embedding FROM embeddings),
         |bnd AS (
         |  SELECT vec_id, CAST(b // 4 AS INTEGER) AS band,
         |    CAST(sum(CASE WHEN ${dotSql("embedding", "p")} > 0
         |      THEN (CAST(1 AS BIGINT) << (b % 4)) ELSE 0 END)
         |      AS BIGINT) AS bandVal
         |  FROM emb CROSS JOIN proj GROUP BY 1, 2
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
         |  FROM bnd a JOIN bnd c
         |    ON a.band = c.band AND a.bandVal = c.bandVal
         |      AND a.vec_id < c.vec_id
         |),
         |scored AS (
         |  SELECT id1, id2,
         |    ${dotSql("e1.embedding", "e2.embedding")} AS cosine
         |  FROM cand JOIN emb e1 ON e1.vec_id = id1
         |            JOIN emb e2 ON e2.vec_id = id2
         |)
         |SELECT id1, id2, cosine FROM scored
         |WHERE cosine >= 0.45 ORDER BY id1, id2""".stripMargin),
    Query("q107_embedding_clusters", embeddingClusters(_, _),
      (sigCtes.replaceFirst("^WITH ", "WITH RECURSIVE ") +
        s""",
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
         |  FROM banded a JOIN banded c
         |    ON a.band = c.band AND a.bandVal = c.bandVal
         |      AND a.vec_id < c.vec_id
         |),
         |p AS (
         |  SELECT id1, id2 FROM (
         |    SELECT id1, id2,
         |      ${dotSql("e1.embedding", "e2.embedding")} AS cosine
         |    FROM cand JOIN emb e1 ON e1.vec_id = id1
         |              JOIN emb e2 ON e2.vec_id = id2)
         |  WHERE cosine >= 0.45
         |),
         |e(src, dst) AS (
         |  SELECT id1, id2 FROM p UNION ALL SELECT id2, id1 FROM p
         |),
         |reach(id, label) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.id
         |)
         |SELECT id AS vec_id, min(label) AS cluster_id,
         |  (id = min(label)) AS keep
         |FROM reach GROUP BY id ORDER BY id""".stripMargin)))
}
