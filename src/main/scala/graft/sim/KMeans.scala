package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}

/** q173: distributed k-means topic clustering over the embedding
  * corpus — Lloyd's algorithm, the workhorse behind topic-balanced
  * mixing, cluster-conditional sampling and coarse IVF-style routing
  * in training-data pipelines (and the fit step the served IVF index
  * starts from).
  *
  * Hash-gateable by construction — every arithmetic step is exact
  * integer or one exactly-representable IEEE op:
  *  - embeddings quantize to BIGINT fixed point (round(x·1024), the
  *    q143/q164 discipline) so squared distances are exact BIGINT
  *    sums with no accumulation-order dependence;
  *  - centroid updates are floor(sum/count) — sum ≤ corpus·1024
  *    stays far below 2⁵³, so the double division is exact and floor
  *    is deterministic on both engines;
  *  - assignment ties break to the LOWEST centroid id (first-minimum
  *    semantics both sides);
  *  - init is the K lexicographically-first vec_ids — deterministic,
  *    no RNG (k-means++ would need one; the plumbing is identical).
  *
  * Scale shape — this is k-means as a 1000-executor cluster runs it:
  * the quantized corpus is a memoized parquet zone scanned once per
  * round; centroids travel as LITERALS in the assignment expression
  * (K·dim values — there is NO join at all in the hot path, the
  * per-row argmin is pure map-side codegen arithmetic); the update is
  * a (cluster, dim)-keyed partial agg of K·dim output rows; the only
  * driver data is the K×dim centroid table per round (the bounded-
  * driver precedent of BPE's 1-row argmax and IVF's nProbe cell
  * ids). Rounds are Iters scans — at 100 TB you trade rounds for
  * minibatch sampling, which changes the input relation, not the
  * shape.
  */
object KMeans extends QueryModule {

  /** Cluster count / Lloyd rounds / fixed-point scale — shared by the
    * Spark path and the code-generated oracle SQL. */
  val K = 8
  val Iters = 3
  val Fp = 1024

  /** The fixed-point corpus, memoized to the scratch zone (scanned
    * Iters+1 times — the ≥3-consumer materialize rule). */
  private[sim] def fixedZone(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "kmeans-fp", s"kmeans-fp:$dir:$Fp")(
      Tables.load(s, dir, "embeddings").select(col("vec_id"),
        expr(s"transform(embedding, x -> " +
          s"CAST(round(CAST(x AS DOUBLE) * $Fp.0) AS BIGINT))").as("q")))

  /** Map-side assignment of every vector against LITERAL centroids:
    * per-centroid exact BIGINT squared distance, argmin with
    * first-minimum (lowest cid) tie-break. */
  private[sim] def assign(v: DataFrame,
                     cents: Seq[Array[Long]]): DataFrame = {
    val dCols: Seq[Column] = cents.zipWithIndex.map { case (c, j) =>
      val cl = array(c.toSeq.map(x => lit(x)): _*)
      aggregate(
        zip_with(col("q"), cl, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, e) => acc + e).as(s"d$j")
    }
    val withD = v.select(col("vec_id") +: col("q") +: dCols: _*)
    val dArr = array(cents.indices.map(j => col(s"d$j")): _*)
    withD.select(col("vec_id"), col("q"),
      (array_position(dArr, array_min(dArr)) - 1)
        .cast("int").as("cluster"),
      array_min(dArr).as("dist2"))
  }

  /** One Lloyd update: per-(cluster, dim) integer mean, empty
    * clusters keep their previous centroid. Driver data = K·dim
    * longs. */
  private[sim] def update(assigned: DataFrame,
                     prev: Seq[Array[Long]]): Seq[Array[Long]] = {
    val rows: Array[Row] = assigned
      .select(col("cluster"), posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(floor(sum(col("x")) / count(lit(1))).as("m"))
      .collect()
    val byCluster = rows.groupBy(_.getInt(0)).map { case (cid, rs) =>
      cid -> rs.sortBy(_.getInt(1)).map(_.getLong(2))
    }
    prev.indices.map(j => byCluster.getOrElse(j, prev(j)))
  }

  /** The K centroids after [[Iters]] Lloyd rounds from the first K
    * vectors by vec_id — q173's fit and the PQ coarse quantizer. */
  private[sim] def fit(v: DataFrame): Seq[Array[Long]] = {
    val init: Seq[Array[Long]] = v.orderBy("vec_id").limit(K)
      .select(col("q")).collect().toSeq
      .map(_.getSeq[Long](0).toArray)
    (1 to Iters).foldLeft(init)((c, _) => update(assign(v, c), c))
  }

  /** The fitted assignment (vec_id, cluster, dist2), memoized: the
    * Lloyd loop is a multi-job driver fold, deterministic per
    * (dir, K, Iters, Fp), so it runs once per application and every
    * consumer (q173's gate scan, q174's mixer) reads the stored
    * labels — the cluster-family `srp-labels` discipline. */
  private[sim] def assignZone(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "kmeans-assign",
      s"kmeans-assign:$dir:$K:$Iters:$Fp") {
      val v = fixedZone(s, dir)
      assign(v, fit(v))
        .select(col("vec_id"), col("cluster"), col("dist2"))
    }

  /** The q173 surface: (vec_id, cluster, dist2) after [[Iters]]
    * Lloyd rounds from the deterministic init. */
  def kmeansTopics(s: SparkSession, dir: String): DataFrame =
    assignZone(s, dir).orderBy("vec_id")

  /** Per-cluster pick budget of [[clusterMix]] — shared with its
    * oracle SQL. */
  val ClusterMixTarget = 120

  /** q174: topic-balanced vector sampling — the q160 temperature
    * mixer pointed at LEARNED clusters instead of source labels: the
    * fitted k-means assignment partitions the corpus into topics,
    * each topic gets a √size Hamilton-allocated share of the pick
    * budget (small topics over-sampled relative to proportional —
    * the data-mixture flattening every pretraining recipe applies),
    * and the picks inside a topic follow the seeded-hash order
    * (q103's discipline) so the sample is deterministic and
    * re-runnable. A topic smaller than its allocation contributes
    * all its vectors (the budget under-fills rather than stealing
    * from elsewhere — documented, not hidden).
    *
    * Scale shape: cluster sizes are a K-row partial agg off the
    * assignment zone; allocation runs on the K-row relation; the
    * per-topic selection is the heap TopK operator capped at the
    * BUDGET (never a corpus-wide window — the q103 skew argument),
    * and the final rank join touches ≤ K·target rows. */
  def clusterMix(s: SparkSession, dir: String,
                 target: Int = ClusterMixTarget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = assignZone(s, dir)
    val sizes = a.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"))
    val sized = sizes
      .withColumn("s0",
        expr("CAST(floor(sqrt(CAST(n_vecs AS DOUBLE))) AS BIGINT)"))
      .withColumn("w", expr(
        "CASE WHEN (s0 + 1) * (s0 + 1) <= n_vecs THEN s0 + 1 " +
          "WHEN s0 * s0 > n_vecs THEN s0 - 1 ELSE s0 END"))
    val tot = sized.agg(sum(col("w")).as("sw"))
    val quota = sized.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($target * w) DIV sw"))
      .withColumn("rem", expr(s"($target * w) % sw"))
    // ≤ K cluster rows (post-groupBy cluster relation): bounded by
    // construction — intentionally-unpartitioned window
    val rr = row_number().over(
      Window.orderBy(col("rem").desc, col("cluster")))
    val need = quota.agg((lit(target.toLong) - sum(col("base")))
      .as("extra"))
    val alloc = quota.withColumn("rr", rr).crossJoin(broadcast(need))
      .withColumn("alloc",
        col("base") + when(col("rr") <= col("extra"), 1L).otherwise(0L))
      .select(col("cluster"), col("alloc"))
    val hashed = a.select(col("vec_id"), col("cluster"),
      (-graft.dedup.Md5Prefix.h(concat(col("cluster").cast("string"),
        lit(":"), col("vec_id").cast("string")))).as("neg_h"))
    // heap-capped at the whole budget (alloc ≤ target always), THEN
    // ranked and trimmed to the per-cluster allocation — the rank
    // window runs over ≤ K·target surviving rows, never the corpus
    val capped = graft.plans.TopK.topKPerGroup(hashed,
      groupCols = Seq("cluster"), orderCol = "neg_h", tieCol = "vec_id",
      k = target)
    capped
      .withColumn("pick_rank",
        row_number().over(Window.partitionBy(col("cluster"))
          .orderBy(col("neg_h").desc, col("vec_id"))).cast("long"))
      .join(broadcast(alloc), "cluster")
      .where(col("pick_rank") <= col("alloc"))
      .select(col("cluster"), col("vec_id"), col("pick_rank"))
      .orderBy("cluster", "pick_rank")
  }

  /** Code-generated oracle: one (assign, update) CTE pair per Lloyd
    * round — the BPE-oracle discipline (the iteration count is a
    * constant, so the loop unrolls into plain ANSI SQL DuckDB can
    * replay bit-for-bit). */
  private[sim] def kmeansOracleSql: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH v AS (
         |  SELECT vec_id,
         |    [CAST(round(CAST(x AS DOUBLE) * $Fp.0) AS BIGINT)
         |      for x in embedding] AS q
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |      AS INTEGER) AS cid, q
         |  FROM (SELECT vec_id, q FROM v ORDER BY vec_id LIMIT $K))""".stripMargin)
    for (t <- 1 to Iters) {
      sb.append(
        s""",
           |d$t AS (
           |  SELECT v.vec_id, c.cid,
           |    CAST(list_sum([(v.q[i+1] - c.q[i+1]) * (v.q[i+1] - c.q[i+1])
           |      for i in range(0, len(v.q))]) AS BIGINT) AS d2
           |  FROM v CROSS JOIN c${t - 1} c),
           |a$t AS (
           |  SELECT vec_id, cid, d2,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)
           |      AS rn
           |  FROM d$t),
           |m$t AS (
           |  SELECT a.cid, u.dim,
           |    CAST(floor(sum(u.x) / count(*)) AS BIGINT) AS m
           |  FROM a$t a JOIN v ON a.vec_id = v.vec_id
           |  JOIN LATERAL (
           |    SELECT unnest(v.q) AS x,
           |      generate_subscripts(v.q, 1) AS dim) u ON true
           |  WHERE a.rn = 1
           |  GROUP BY a.cid, u.dim),
           |c$t AS (
           |  SELECT p.cid, coalesce(g.q, p.q) AS q
           |  FROM c${t - 1} p LEFT JOIN (
           |    SELECT cid, list(m ORDER BY dim) AS q
           |    FROM m$t GROUP BY cid) g ON p.cid = g.cid)""".stripMargin)
    }
    sb.append(
      s""",
         |df AS (
         |  SELECT v.vec_id, c.cid,
         |    CAST(list_sum([(v.q[i+1] - c.q[i+1]) * (v.q[i+1] - c.q[i+1])
         |      for i in range(0, len(v.q))]) AS BIGINT) AS d2
         |  FROM v CROSS JOIN c$Iters c),
         |af AS (
         |  SELECT vec_id, cid, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)
         |      AS rn
         |  FROM df)""".stripMargin)
    sb.toString
  }

  /** q174's oracle: the SAME unrolled k-means chain, then the q160
    * Hamilton mixer over cluster sizes and the q103 seeded-hash
    * selection — spliced from one prefix so the two oracles can
    * never disagree on the fit. */
  private def clusterMixOracleSql: String =
    kmeansOracleSql +
      s""",
         |asg AS (SELECT vec_id, cid AS cluster FROM af WHERE rn = 1),
         |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs
         |       FROM asg GROUP BY 1),
         |w0 AS (
         |  SELECT cluster, n_vecs,
         |    CAST(floor(sqrt(CAST(n_vecs AS DOUBLE))) AS BIGINT) AS s0
         |  FROM cs),
         |w AS (
         |  SELECT cluster, n_vecs,
         |    CASE WHEN (s0 + 1) * (s0 + 1) <= n_vecs THEN s0 + 1
         |         WHEN s0 * s0 > n_vecs THEN s0 - 1 ELSE s0 END AS w
         |  FROM w0),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
         |q AS (
         |  SELECT cluster, w,
         |    ($ClusterMixTarget * w) // sw AS base,
         |    ($ClusterMixTarget * w) % sw AS rem,
         |    row_number() OVER (ORDER BY ($ClusterMixTarget * w) % sw
         |      DESC, cluster) AS rr
         |  FROM w CROSS JOIN t),
         |x AS (SELECT CAST($ClusterMixTarget - sum(base) AS BIGINT)
         |        AS extra FROM q),
         |al AS (
         |  SELECT cluster,
         |    CAST(base + CASE WHEN rr <= extra THEN 1 ELSE 0 END
         |      AS BIGINT) AS alloc
         |  FROM q CROSS JOIN x),
         |hk AS (
         |  SELECT vec_id, cluster,
         |    ('0x' || substr(md5(CAST(cluster AS VARCHAR) || ':' ||
         |      CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM asg),
         |rk AS (
         |  SELECT vec_id, cluster,
         |    CAST(row_number() OVER (PARTITION BY cluster
         |      ORDER BY h, vec_id) AS BIGINT) AS pick_rank
         |  FROM hk)
         |SELECT rk.cluster, rk.vec_id, rk.pick_rank
         |FROM rk JOIN al ON rk.cluster = al.cluster
         |WHERE rk.pick_rank <= al.alloc
         |ORDER BY rk.cluster, rk.pick_rank""".stripMargin

  /** Per-topic outlier shortlist size of [[farthestPerTopic]]. */
  val FarthestK = 10

  /** q184: per-topic outlier shortlist — the [[FarthestK]] vectors
    * FARTHEST from their assigned centroid in each topic: the
    * embedding-QA review queue ("show me the 10 weirdest items per
    * topic" — mislabeled/garbled/out-of-domain members land here),
    * the geometric complement of q129's numeric z-scores. A
    * rank-based shortlist, deliberately not a mean-multiple flag: on
    * near-uniform-shell embedding distributions (this corpus:
    * max dist²/mean ≈ 1.11) no fixed multiple separates anything,
    * while the farthest-k queue is non-degenerate on EVERY
    * distribution.
    *
    * Scale shape: pure consumer of the memoized assignment zone
    * (q173's derivation runs once per application); selection runs
    * on the [[graft.plans.TopK]] heap operator — per-partition
    * k-heaps keyed by cluster, never a corpus-wide window (the q103
    * skew argument); the display rank is a window over the ≤ K·k
    * selected rows (the q174 tiny-window rule). */
  def farthestPerTopic(s: SparkSession, dir: String): DataFrame = {
    val picked = graft.plans.TopK.topKPerGroup(
      assignZone(s, dir), Seq("cluster"), orderCol = "dist2",
      tieCol = "vec_id", k = FarthestK)
    picked.withColumn("rank",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster"))
          .orderBy(col("dist2").desc, col("vec_id"))))
      .select(col("cluster"), col("vec_id"), col("dist2"), col("rank"))
      .orderBy("cluster", "rank")
  }

  /** q255's report depth. */
  val TopicTerms = 5

  /** q255: distinctive terms per k-means topic — the human-readable
    * LABEL for each embedding cluster: tokens ranked by document-
    * frequency lift (share of the topic's docs containing the token
    * vs its corpus share; the synthetic corpus aligns vec_id with
    * doc_id, the q148 correspondence). Lift ties break on the token,
    * and only the top [[TopicTerms]] per topic survive. Counts are
    * exact integers off the shared assoc-items zone; lift is one
    * double per candidate; the rank window runs per topic over the
    * vocabulary-sized relation. */
  def topicTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = kmeansTopics(s, dir)
      .select(col("vec_id").as("doc_id"), col("cluster"))
    val it = graft.util.Tokens.assocItems(s, dir)
    val dfTot = it.groupBy(col("tok")).agg(count(lit(1)).as("df_tot"))
    val nDocs = lab.agg(count(lit(1)).as("n_docs"))
    val sizes = lab.groupBy(col("cluster")).agg(count(lit(1)).as("size_c"))
    val dfIn = it.join(lab, "doc_id")
      .groupBy(col("cluster"), col("tok")).agg(count(lit(1)).as("df_in"))
    val scored = dfIn.join(dfTot, "tok").join(sizes, "cluster")
      .crossJoin(broadcast(nDocs))
      .withColumn("lift",
        (col("df_in") * col("n_docs")).cast("double") /
          (col("df_tot") * col("size_c")).cast("double"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("lift").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopicTerms)
      .select(col("cluster"), col("rank"), col("tok"), col("df_in"),
        col("df_tot"), col("size_c"), col("n_docs"), col("lift"))
      .orderBy("cluster", "rank")
  }

  /** q173's oracle; Spectral's oracles splice it. */
  private[graft] lazy val KmeansTopicsSql: String =
    kmeansOracleSql +
      """
        |SELECT vec_id, cid AS cluster, d2 AS dist2
        |FROM af WHERE rn = 1 ORDER BY vec_id""".stripMargin

  lazy val records: Seq[Query] = Seq(
    // the k-means CTE prefix + the q154 tokenization, lift-ranked
    Query("q255_topic_terms", topicTerms(_, _), (kmeansOracleSql +
      raw"""
        |, lab AS MATERIALIZED (
        |  SELECT vec_id AS doc_id, cid AS cluster
        |  FROM af WHERE rn = 1),
        |it AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(text), '[ \t\n\v\f\r]+'))
        |        AS tok
        |    FROM documents) t),
        |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df_tot
        |        FROM it GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM lab),
        |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS size_c
        |       FROM lab GROUP BY 1),
        |dfi AS (
        |  SELECT lab.cluster, it.tok, CAST(count(*) AS BIGINT) AS df_in
        |  FROM it JOIN lab USING (doc_id) GROUP BY 1, 2),
        |sc AS (
        |  SELECT dfi.cluster, dfi.tok, dfi.df_in, dft.df_tot,
        |    sz.size_c, nd.n_docs,
        |    CAST(dfi.df_in * nd.n_docs AS DOUBLE)
        |      / CAST(dft.df_tot * sz.size_c AS DOUBLE) AS lift
        |  FROM dfi JOIN dft USING (tok) JOIN sz USING (cluster)
        |  CROSS JOIN nd),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY cluster
        |    ORDER BY lift DESC, tok) AS INTEGER) AS rank
        |  FROM sc)
        |SELECT cluster, rank, tok, df_in, df_tot, size_c, n_docs, lift
        |FROM rk WHERE rank <= 5
        |ORDER BY cluster, rank""".stripMargin)),
    Query("q173_kmeans_topics", kmeansTopics(_, _), KmeansTopicsSql),
    Query("q174_cluster_mix", clusterMix(_, _), clusterMixOracleSql),
    // same k-means CTE prefix; the heap operator's (dist2 DESC,
    // vec_id ASC) contract replayed as a window rank
    Query("q184_farthest_per_topic", farthestPerTopic(_, _), (kmeansOracleSql +
      s"""
        |, asg AS (
        |  SELECT vec_id, cid AS cluster, d2 FROM af WHERE rn = 1),
        |rk AS (
        |  SELECT cluster, vec_id, d2 AS dist2,
        |    CAST(row_number() OVER (PARTITION BY cluster
        |      ORDER BY d2 DESC, vec_id) AS INTEGER) AS rank
        |  FROM asg)
        |SELECT cluster, vec_id, dist2, rank FROM rk
        |WHERE rank <= $FarthestK
        |ORDER BY cluster, rank""".stripMargin)))
}
