package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule}

/** Product quantization — the memory side of the production ANN
  * recipe (IVF routes, PQ compresses): split each 64-dim embedding
  * into [[M]] subspaces of [[SubDim]] dims, fit an independent
  * [[Ksub]]-centroid codebook per subspace with the SAME
  * deterministic integer Lloyd machinery as q173 ([[KMeans.assign]]/
  * [[KMeans.update]] over sliced vectors), and store each vector as
  * [[M]] codebook indices — 8 bytes instead of 256, a 32× ratio
  * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
  * Search").
  *
  * Everything is exact integer arithmetic (fixed-point slices,
  * BIGINT squared distances, floor-mean updates, lowest-cid ties),
  * so BOTH the codes and the ADC search results hash-gate against a
  * DuckDB replay of the full fit — per-subspace unrolled Lloyd
  * chains generated from the same constants.
  *
  * Scale shape: the fit touches the memoized fixed-point zone
  * (subspace slices are map-side projections); codebooks are
  * M·Ksub·SubDim longs on the driver (the q173 bounded-driver rule);
  * the encode pass is ONE corpus scan with all 8 argmins as literal
  * column math — no join; the codes zone is then what search reads
  * (32× less I/O than raw vectors, the point of PQ). */
object Pq extends QueryModule {

  /** Subspaces × dims (M·SubDim = embedding width) and codebook size.
    * Shared by the Spark path and the generated oracle SQL. */
  val M = 8
  val SubDim = 8
  val Ksub = 16
  val Iters = 3

  /** Fit ALL M codebooks together: deterministic init (first Ksub
    * vec_ids' slices per subspace), then [[Iters]] Lloyd rounds
    * where each round is ONE corpus scan — per-subspace argmin codes
    * as literal column math, one (sub, cluster, dim)-keyed partial
    * agg of M·Ksub·SubDim = 1024 output rows. Numerically identical
    * to fitting each subspace independently (the subspaces never
    * interact), but 4 scans instead of 32 (measured 16 s → ~5 s at
    * sf1); the oracle's per-subspace chains replay the same values. */
  private def fitAll(s: SparkSession,
                     dir: String): IndexedSeq[Seq[Array[Long]]] = {
    val v = KMeans.fixedZone(s, dir)
    val initRows = v.orderBy("vec_id").limit(Ksub)
      .select(col("q")).collect().toSeq
      .map(_.getSeq[Long](0).toArray)
    val init: IndexedSeq[Seq[Array[Long]]] = (0 until M).map(m =>
      initRows.map(_.slice(m * SubDim, (m + 1) * SubDim)))
    (1 to Iters).foldLeft(init) { (books, _) =>
      val cc = codeCols(books)
      val perSub = (0 until M).map { case m =>
        struct(lit(m).as("sub"), cc(m)._1.as("code"),
          expr(s"slice(q, ${m * SubDim + 1}, $SubDim)").as("dims"))
      }
      val rows = v
        .select(explode(array(perSub: _*)).as("e"))
        .select(col("e.sub").as("sub"), col("e.code").as("code"),
          posexplode(col("e.dims")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("code"), col("dim"))
        .agg(floor(sum(col("x")) / count(lit(1))).as("mn"))
        .collect()
      val bySubCluster = rows.groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (k, rs) =>
          k -> rs.sortBy(_.getInt(2)).map(_.getLong(3))
        }
      (0 until M).map(m => books(m).indices.map(j =>
        bySubCluster.getOrElse((m, j), books(m)(j)).toArray).toSeq)
    }
  }

  /** All M codebooks, fitted once per application (driver cache —
    * M·Ksub·SubDim longs; zone-keyed like the memoized relations). */
  private val books =
    new java.util.concurrent.ConcurrentHashMap[String,
      IndexedSeq[Seq[Array[Long]]]]()
  private[sim] def codebooks(s: SparkSession,
                             dir: String): IndexedSeq[Seq[Array[Long]]] =
    books.computeIfAbsent(s"$dir:$M:$SubDim:$Ksub:$Iters:${KMeans.Fp}",
      _ => fitAll(s, dir))

  /** Per-subspace argmin columns against LITERAL codebooks — the
    * whole encode is one map-side projection (the q173 assignment
    * shape, 8 subspaces wide). */
  private def codeCols(cents: IndexedSeq[Seq[Array[Long]]])
      : Seq[(Column, Column)] =
    (0 until M).map { m =>
      val sub = expr(s"slice(q, ${m * SubDim + 1}, $SubDim)")
      val d = cents(m).map { c =>
        val cl = array(c.toSeq.map(x => lit(x)): _*)
        aggregate(zip_with(sub, cl, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, e) => acc + e)
      }
      val dArr = array(d: _*)
      ((array_position(dArr, array_min(dArr)) - 1).cast("int"),
        array_min(dArr))
    }

  /** The encoded corpus as a memoized zone: (vec_id, c0..c7, qerr).
    * ONE scan of the fixed-point zone; search reads THIS. */
  private[sim] def codesZone(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "pq-codes",
      s"pq-codes:$dir:$M:$SubDim:$Ksub:$Iters") {
      val cc = codeCols(codebooks(s, dir))
      val cols = col("vec_id") +:
        cc.zipWithIndex.map { case ((c, _), m) => c.as(s"c$m") } ++:
        Seq(cc.map(_._2).reduce(_ + _).as("qerr"))
      KMeans.fixedZone(s, dir).select(cols: _*)
    }

  /** q186: the PQ code table — every vector's M codebook indices and
    * its exact integer quantization error. */
  def pqCodes(s: SparkSession, dir: String): DataFrame =
    codesZone(s, dir).orderBy("vec_id")

  /** Encode ANY (vec_id, embedding) relation with fitted codebooks —
    * pure map-side column math, so it runs unchanged on a STREAMING
    * DataFrame: PQ encode at ingest is how a production index admits
    * new vectors (fit is slow-moving; encode is per-row). Stream ≡
    * batch bit-identically because the expressions are stateless
    * (pinned in PqSpec). */
  private[graft] def encode(books: IndexedSeq[Seq[Array[Long]]],
                            vectors: DataFrame): DataFrame = {
    val fx = vectors.select(col("vec_id"),
      expr(s"transform(embedding, x -> " +
        s"CAST(round(CAST(x AS DOUBLE) * ${KMeans.Fp}.0) AS BIGINT))")
        .as("q"))
    val cc = codeCols(books)
    fx.select(col("vec_id") +:
      cc.zipWithIndex.map { case ((c, _), m) => c.as(s"c$m") } ++:
      Seq(cc.map(_._2).reduce(_ + _).as("qerr")): _*)
  }

  /** q187 constants: query set, neighborhood size, recall floor the
    * witness pins (measured ≥ this at every SF; 8×16 codebooks on
    * 64-dim vectors are coarse BY DESIGN — PQ trades recall for a
    * 32× memory ratio, and re-ranking the ADC shortlist with exact
    * distances is the standard second stage, q143's job). */
  val SearchK = 5
  val NQueries = 10

  /** Witness floor on MEAN recall over the query set (not per query
    * — single-query PQ recall is high-variance by nature). Chance
    * overlap here is ≈ k/n ≈ 0.01–0.05; measured mean ≈ 0.26 at
    * sf0.01 on the hardest PQ input there is (near-uniform shell
    * vectors, no cluster structure for codebooks to exploit). */
  val RecallFloor = 0.12

  /** q187: asymmetric-distance (ADC) search over the code zone — the
    * query stays EXACT (its fixed-point slices), every corpus vector
    * is its 8 codes, and the distance is Σ_m LUT_m[code_m] where
    * LUT_m holds the query's exact integer distance to each of the
    * 16 centroids of subspace m. Per-query top-k by ADC (ties →
    * lowest neighbor), each row carrying the per-query recall-vs-
    * exact witness (the q168 discipline) with [[RecallFloor]]
    * pinned TRUE.
    *
    * Scale shape: the LUT build is NQueries·M·Ksub integer dots —
    * map-side on the tiny query relation, then broadcast; the
    * corpus side reads ONLY the codes zone (32× less I/O than raw
    * embeddings — the point of PQ) and scores each vector with 8
    * array lookups, no join against raw vectors. The exact-top-k
    * witness branch scans full vectors — the gate-affordable audit
    * (q165's rule), dropped at scale where q143's shortlist
    * re-ranking replaces it. */
  def pqSearch(s: SparkSession, dir: String): DataFrame = {
    val cents = codebooks(s, dir)
    val fz = KMeans.fixedZone(s, dir)
    // query relation with its 8 per-subspace LUTs as array columns
    val lutCols = (0 until M).map { m =>
      val sub = expr(s"slice(q, ${m * SubDim + 1}, $SubDim)")
      array(cents(m).map { c =>
        val cl = array(c.toSeq.map(x => lit(x)): _*)
        aggregate(zip_with(sub, cl, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, e) => acc + e)
      }: _*).as(s"lut$m")
    }
    val q = fz.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id") +: col("q").as("qq") +:
        lutCols: _*)
    val adc = (0 until M).map(m =>
      element_at(col(s"lut$m"), col(s"c$m") + 1)).reduce(_ + _)
    val scored = codesZone(s, dir)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adc.as("adc_dist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist2"), col("neighbor_id"))
    // consumed twice (overlap + output join): without the eager root
    // the ADC scoring join is planned twice (the q168 r15 audit
    // shape); NQueries·SearchK rows
    val top = graft.util.Checkpoints.root(
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= SearchK))
    // exact witness: true top-k on full fixed-point vectors
    val exScored = fz
      .join(broadcast(q.select(col("query_id"), col("qq"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("q"), col("qq"),
          (x, y) => (x - y) * (x - y)), lit(0L), (acc, e) => acc + e)
          .as("d2"))
    val exTop = exScored.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("d2"), col("neighbor_id"))))
      .where(col("rank") <= SearchK)
      .select(col("query_id"), col("neighbor_id"))
    // consumed twice (corpus total + per-query join): the exact
    // witness scoring otherwise plans twice; ≤ NQueries rows
    val overlap = graft.util.Checkpoints.root(
      top.select(col("query_id"), col("neighbor_id"))
        .join(exTop, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_overlap")))
    // corpus-level mean recall from the exact integer total — never
    // an average of inexact per-query doubles (order-dependent ulps)
    val tot = overlap.agg(sum(col("n_overlap")).as("total_overlap"))
    top.join(overlap, Seq("query_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("recall",
        col("n_overlap").cast("double") / lit(SearchK.toDouble))
      .crossJoin(broadcast(tot))
      .withColumn("total_overlap",
        coalesce(col("total_overlap"), lit(0L)))
      .withColumn("mean_recall",
        col("total_overlap").cast("double") /
          lit((NQueries * SearchK).toDouble))
      .withColumn("meets_floor", col("mean_recall") >= lit(RecallFloor))
      .select(col("query_id"), col("neighbor_id"), col("adc_dist2"),
        col("rank"), col("n_overlap"), col("recall"),
        col("total_overlap"), col("mean_recall"), col("meets_floor"))
      .orderBy("query_id", "rank")
  }

  /** q188: IVF-routed PQ search — the full FAISS-style IVFPQ
    * composition: the q173 k-means assignment is the coarse
    * quantizer (cells), [[pqCodes]] the fine codes; a query routes
    * to its `nProbe` nearest coarse centroids and ADC-scores ONLY
    * those cells' members. Gate mode probes ALL cells, so the
    * ranking is exactly [[pqSearch]]'s exhaustive ADC (the q53/q163
    * probe-all ≡ brute contract, one level up the index stack);
    * PqSpec measures the partial-probe (nProbe = 2) recall against
    * the exhaustive ranking — the production dial.
    *
    * Scale shape: routing is NQueries·K integer dots map-side on the
    * query relation; the candidate set is cell-pruned BEFORE any
    * scoring (cells ride the assignment zone, codes the codes zone —
    * an id-keyed join of two compact zones); everything downstream
    * is q187's shape. At 100 TB the zones are co-partitioned by cell
    * (q163's layout) and the join disappears into the scan. */
  def ivfPqSearch(s: SparkSession, dir: String,
                  nProbe: Int = KMeans.K): DataFrame = {
    val cents = codebooks(s, dir)
    val fz = KMeans.fixedZone(s, dir)
    // final coarse centroids: re-derive deterministically the same
    // way assignZone's fit does (bounded driver fold, memo-backed
    // assignment zone supplies the cells themselves)
    val coarse = coarseCentroids(s, dir)
    val coarseD = coarse.zipWithIndex.map { case (c, j) =>
      val cl = array(c.toSeq.map(x => lit(x)): _*)
      aggregate(zip_with(col("q"), cl, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, e) => acc + e).as(s"cd$j")
    }
    val lutCols = (0 until M).map { m =>
      val sub = expr(s"slice(q, ${m * SubDim + 1}, $SubDim)")
      array(cents(m).map { c =>
        val cl = array(c.toSeq.map(x => lit(x)): _*)
        aggregate(zip_with(sub, cl, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, e) => acc + e)
      }: _*).as(s"lut$m")
    }
    val qRaw = fz.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id") +: col("q").as("qq") +:
        (coarseD ++ lutCols): _*)
    // probed cells: the nProbe nearest coarse ids (struct sort =
    // distance asc, ties → lowest cell id)
    val q = qRaw
      .withColumn("cdarr",
        array(coarse.indices.map(j => col(s"cd$j")): _*))
      .withColumn("probe", expr(
        s"slice(transform(array_sort(transform(" +
          s"sequence(0, ${KMeans.K - 1}), " +
          "j -> struct(element_at(cdarr, j + 1) AS d, j AS j))), " +
          s"e -> e.j), 1, $nProbe)"))
    val cells = KMeans.assignZone(s, dir)
      .select(col("vec_id"), col("cluster"))
    val adc = (0 until M).map(m =>
      element_at(col(s"lut$m"), col(s"c$m") + 1)).reduce(_ + _)
    val scored = codesZone(s, dir)
      .join(cells, "vec_id")
      .join(broadcast(q), col("vec_id") =!= col("query_id") &&
        array_contains(col("probe"), col("cluster")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adc.as("adc_dist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist2"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= SearchK)
      .withColumn("n_cells_probed", lit(nProbe))
      .select(col("query_id"), col("neighbor_id"), col("adc_dist2"),
        col("rank"), col("n_cells_probed"))
      .orderBy("query_id", "rank")
  }

  /** The K coarse centroids after the q173 fit ([[KMeans.fit]]),
    * cached per zone key. */
  private val coarseCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[Array[Long]]]()
  private[sim] def coarseCentroids(s: SparkSession,
                                   dir: String): Seq[Array[Long]] =
    coarseCache.computeIfAbsent(
      s"$dir:${KMeans.K}:${KMeans.Iters}:${KMeans.Fp}",
      _ => KMeans.fit(KMeans.fixedZone(s, dir)))

  /** q189: per-cell PQ health report — for each coarse IVF cell: how
    * many vectors, their total and mean quantization error. The
    * index-operations dashboard behind the re-fit decision ("which
    * cells does the codebook fit badly" — drifted or out-of-
    * distribution regions show up as high-mean-qerr cells). Joins the
    * two compact zones (codes + assignment); the report is K rows.
    *
    * The mean is ONE double division per cell from exact integers
    * (the module discipline). */
  def pqCellStats(s: SparkSession, dir: String): DataFrame =
    codesZone(s, dir).select(col("vec_id"), col("qerr"))
      .join(KMeans.assignZone(s, dir)
        .select(col("vec_id"), col("cluster")), "vec_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("qerr")).as("sum_qerr"))
      .select(col("cluster"), col("n_vecs"), col("sum_qerr"),
        (col("sum_qerr").cast("double") / col("n_vecs").cast("double"))
          .as("mean_qerr"))
      .orderBy("cluster")

  // ---------------------------------------------------------------- oracle

  /** One subspace's unrolled Lloyd chain (CTE names prefixed s{m}_),
    * ending in `s{m}_af` = (vec_id, cid, d2, rn) for the final
    * assignment. The q173 oracle chain parameterized by slice. */
  private def subChainSql(m: Int): String = {
    val lo = m * SubDim + 1
    val hi = (m + 1) * SubDim
    val p = s"s${m}_"
    val sb = new StringBuilder
    sb.append(
      s"""${p}v AS MATERIALIZED (
         |  SELECT vec_id, q[$lo:$hi] AS q FROM fpz),
         |${p}c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |      AS INTEGER) AS cid, q
         |  FROM (SELECT vec_id, q FROM ${p}v ORDER BY vec_id
         |        LIMIT $Ksub))""".stripMargin)
    for (t <- 1 to Iters) {
      sb.append(
        s""",
           |${p}d$t AS (
           |  SELECT v.vec_id, c.cid,
           |    CAST(list_sum([(v.q[i+1] - c.q[i+1]) * (v.q[i+1] - c.q[i+1])
           |      for i in range(0, len(v.q))]) AS BIGINT) AS d2
           |  FROM ${p}v v CROSS JOIN ${p}c${t - 1} c),
           |${p}a$t AS (
           |  SELECT vec_id, cid, d2,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)
           |      AS rn
           |  FROM ${p}d$t),
           |${p}m$t AS (
           |  SELECT a.cid, u.dim,
           |    CAST(floor(sum(u.x) / count(*)) AS BIGINT) AS m
           |  FROM ${p}a$t a JOIN ${p}v v ON a.vec_id = v.vec_id
           |  JOIN LATERAL (
           |    SELECT unnest(v.q) AS x,
           |      generate_subscripts(v.q, 1) AS dim) u ON true
           |  WHERE a.rn = 1
           |  GROUP BY a.cid, u.dim),
           |${p}c$t AS MATERIALIZED (
           |  SELECT p.cid, coalesce(g.q, p.q) AS q
           |  FROM ${p}c${t - 1} p LEFT JOIN (
           |    SELECT cid, list(m ORDER BY dim) AS q
           |    FROM ${p}m$t GROUP BY cid) g ON p.cid = g.cid)""".stripMargin)
    }
    sb.append(
      s""",
         |${p}df AS (
         |  SELECT v.vec_id, c.cid,
         |    CAST(list_sum([(v.q[i+1] - c.q[i+1]) * (v.q[i+1] - c.q[i+1])
         |      for i in range(0, len(v.q))]) AS BIGINT) AS d2
         |  FROM ${p}v v CROSS JOIN ${p}c$Iters c),
         |${p}af AS MATERIALIZED (
         |  SELECT vec_id, cid, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)
         |      AS rn
         |  FROM ${p}df)""".stripMargin)
    sb.toString
  }

  /** Shared oracle prefix: fixed-point corpus + all M subspace
    * chains + the assembled code table `codes`. */
  private[sim] def pqCtesSql: String = {
    val chains = (0 until M).map(subChainSql).mkString(",\n")
    val picks = (0 until M).map(m =>
      s"(SELECT cid FROM s${m}_af a WHERE a.vec_id = f.vec_id " +
        s"AND a.rn = 1) AS c$m").mkString(",\n    ")
    val errs = (0 until M).map(m =>
      s"(SELECT d2 FROM s${m}_af a WHERE a.vec_id = f.vec_id " +
        s"AND a.rn = 1)").mkString(" + ")
    s"""fpz AS MATERIALIZED (
       |  SELECT vec_id,
       |    [CAST(round(CAST(x AS DOUBLE) * ${KMeans.Fp}.0) AS BIGINT)
       |      for x in embedding] AS q
       |  FROM embeddings),
       |$chains,
       |codes AS MATERIALIZED (
       |  SELECT f.vec_id,
       |    $picks,
       |    CAST($errs AS BIGINT) AS qerr
       |  FROM fpz f)""".stripMargin
  }

  /** One subspace's LUT rows (query_id, sub, j, d): the query's
    * exact integer distance to each of the Ksub centroids — spelled
    * as a plain cross join (DuckDB list-comprehension lambdas cannot
    * see correlated OUTER columns, so the correlated-subquery
    * spelling does not bind; a same-SELECT join does). */
  private def lutSubSql(m: Int): String =
    s"""SELECT qy.query_id, $m AS sub, cc.cid AS j,
       |  CAST(list_sum([
       |    (qy.qq[${m * SubDim} + i + 1] - cc.q[i + 1])
       |    * (qy.qq[${m * SubDim} + i + 1] - cc.q[i + 1])
       |    for i in range(0, $SubDim)]) AS BIGINT) AS d
       |FROM qs qy CROSS JOIN s${m}_c$Iters cc""".stripMargin

  /** Shared ADC-ranking CTEs (query LUTs → per-pair ADC → ranks) —
    * q187's exhaustive spelling, which q188's probe-all gate mode is
    * defined to equal (the q53/q163 probe-all ≡ brute precedent). */
  private def adcCtesSql: String =
    s"""qs AS MATERIALIZED (
       |  SELECT vec_id AS query_id, q AS qq FROM fpz
       |  WHERE vec_id < $NQueries),
       |lut AS MATERIALIZED (
       |${(0 until M).map(lutSubSql).mkString("\nUNION ALL\n")}),
       |adc AS (
       |  SELECT l0.query_id, c.vec_id AS neighbor_id,
       |    ${(0 until M).map(m => s"l$m.d").mkString(" + ")}
       |      AS adc_dist2
       |  FROM codes c
       |  ${(0 until M).map(m =>
           s"JOIN lut l$m ON l$m.sub = $m AND l$m.j = c.c$m" +
             (if (m > 0) s" AND l$m.query_id = l0.query_id" else ""))
           .mkString("\n  ")}
       |  WHERE c.vec_id != l0.query_id),
       |adcr AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, adc_dist2,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist2, neighbor_id) AS INTEGER) AS rank
       |  FROM adc)""".stripMargin

  lazy val records: Seq[Query] = Seq(
    Query("q186_pq_codes", pqCodes(_, _),
      s"""WITH $pqCtesSql
         |SELECT * FROM codes ORDER BY vec_id
         |""".stripMargin),
    // the q173 coarse chain (v/c0/dN/aN/af names) and the PQ chains
    // (fpz/s{m}_*) compose without collision; cells from the former,
    // qerr from the latter
    Query("q189_pq_cell_stats", pqCellStats(_, _),
      (KMeans.kmeansOracleSql + s""",
         |$pqCtesSql,
         |asg AS (SELECT vec_id, cid AS cluster FROM af WHERE rn = 1)
         |SELECT asg.cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(codes.qerr) AS BIGINT) AS sum_qerr,
         |  CAST(sum(codes.qerr) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS mean_qerr
         |FROM asg JOIN codes ON codes.vec_id = asg.vec_id
         |GROUP BY 1 ORDER BY asg.cluster
         |""".stripMargin)),
    Query("q188_ivfpq_search", ivfPqSearch(_, _),
      s"""WITH $pqCtesSql,
         |$adcCtesSql
         |SELECT query_id, neighbor_id, adc_dist2, rank,
         |  ${KMeans.K} AS n_cells_probed
         |FROM adcr WHERE rank <= $SearchK
         |ORDER BY query_id, rank
         |""".stripMargin),
    Query("q187_pq_search", pqSearch(_, _),
      s"""WITH $pqCtesSql,
         |$adcCtesSql,
         |ex AS (
         |  SELECT q.query_id, v.vec_id AS neighbor_id,
         |    CAST(list_sum([(v.q[i+1] - q.qq[i+1]) * (v.q[i+1] - q.qq[i+1])
         |      for i in range(0, ${M * SubDim})]) AS BIGINT) AS d2
         |  FROM fpz v JOIN qs q ON v.vec_id != q.query_id),
         |exr AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY d2, neighbor_id) AS rank
         |  FROM ex),
         |ov AS (
         |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM adcr a JOIN exr e ON a.query_id = e.query_id
         |    AND a.neighbor_id = e.neighbor_id AND e.rank <= $SearchK
         |  WHERE a.rank <= $SearchK GROUP BY 1),
         |tv AS (SELECT CAST(coalesce(sum(n_overlap), 0) AS BIGINT)
         |         AS total_overlap FROM ov)
         |SELECT a.query_id, a.neighbor_id, a.adc_dist2, a.rank,
         |  coalesce(ov.n_overlap, 0) AS n_overlap,
         |  CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / $SearchK.0
         |    AS recall,
         |  tv.total_overlap,
         |  CAST(tv.total_overlap AS DOUBLE) / ${NQueries * SearchK}.0
         |    AS mean_recall,
         |  CAST(tv.total_overlap AS DOUBLE) / ${NQueries * SearchK}.0
         |    >= $RecallFloor AS meets_floor
         |FROM adcr a LEFT JOIN ov ON ov.query_id = a.query_id
         |CROSS JOIN tv
         |WHERE a.rank <= $SearchK
         |ORDER BY a.query_id, a.rank
         |""".stripMargin))
}
