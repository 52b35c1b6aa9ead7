package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}

/** Retrieval-quality evaluation — the feedback loop a training-data
  * pipeline runs over its own retriever: take the q153 inverse-cloze
  * gold pairs (anchor chunk → adjacent positive chunk), retrieve
  * with the q191 hashed-TF representation over the whole chunk
  * corpus, and report recall@k / MRR per source. This is the
  * BEIR-style eval harness shape (query set + gold + corpus →
  * ranked metrics), with the gold extracted unsupervised from the
  * corpus itself (Lee et al. 2019's ICT evaluation recipe).
  *
  * Ranking is the COUNT-BETTER spelling: the gold chunk's rank =
  * 1 + |candidates scoring strictly better (or tied with an earlier
  * id)|, so no per-query top-k list is ever materialized — the rank
  * aggregates straight off the scored-pair relation. Candidates are
  * the term-sharing chunks (dot > 0) — inverted-index retrieval
  * semantics (the q123 candidate rule): a gold pair sharing no term
  * with its anchor is an honest MISS, not a tie-broken accident.
  *
  * Scale shape: queries are a deterministic hash-sample (1 in
  * [[SampleMod]]) of the gold pairs — evaluation needs thousands of
  * queries, not the corpus (the q168 sampled-anchor rule). Scoring
  * is the q192 dense-array path: one 64-long TF array per chunk,
  * query-side×corpus nested-loop with the codegen'd
  * [[graft.functions.LongDot]], no |pairs|·|shared dims| shuffle.
  * The per-source rollup is a partial agg over per-query rows. No
  * broadcast hints (the sampled query side still grows with the
  * corpus). */
object RetrievalEval extends QueryModule {

  /** 1-in-N deterministic hash sample of the gold pairs. */
  val SampleMod = 11

  /** ABSOLUTE cap on the evaluated query set — the round-8 scale fix.
    * The 1-in-[[SampleMod]] sample grows linearly with the corpus, so
    * the query×corpus scoring scan was O(corpus²/11) — the one
    * quadratic left in the suite (94.9 s at sf1). Real eval harnesses
    * (BEIR, MTEB) hold the query set at a few thousand while the
    * corpus grows; this pins that: the evaluated queries are the
    * [[QueryCap]] hash-SMALLEST sampled gold pairs (deterministic,
    * engine-independent — ordered by (h, qdoc, qj), no tie ambiguity),
    * making eval cost O(QueryCap · corpus), linear in the corpus.
    *
    * Per-query ranks are untouched by the cap (count-better rank is a
    * per-query computation), so where the cap does not bind — the
    * sf0.01 gate has ~370 sampled pairs — the result is bit-identical
    * to the uncapped spelling. A df-style cap on the CANDIDATE side
    * was considered and rejected as semantics-changing: with
    * [[TextVectors.Dim]] = 64 hash buckets (and this corpus' 31-token
    * vocabulary) candidate sharing is dense by construction, and the
    * exact count-better contract needs every candidate. Production
    * approximate ranking is the served-IVF path (q163/q168), which
    * carries its own recall witnesses. */
  val QueryCap = 2000

  /** Metric cutoffs: recall@1/5/10, MRR truncated at 10. */
  val KMax = 10

  private def longDot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.LongDot(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** Per-chunk dense hashed-TF array + exact norm², from the shared
    * chunk zone (re-tokenizing `ctext` on the single space it was
    * reassembled with — exact round trip). Memoized to a scratch
    * zone: the anchor lookup, the gold scoring and the corpus side
    * of the pair scan all read the stored copy. */
  private def chunkVectors(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "chunk-tf", s"chunk-tf:$dir")(
      chunkVectorsDerive(s, dir))

  private def chunkVectorsDerive(s: SparkSession, dir: String): DataFrame = {
    val tf = CorpusStats.chunkZone(s, dir)
      .select(col("doc_id"), col("j"),
        explode(split(col("ctext"), " ")).as("tok"))
      .select(col("doc_id"), col("j"),
        (graft.dedup.Md5Prefix.h(col("tok")) % TextVectors.Dim)
          .cast("int").as("dim"))
      .groupBy(col("doc_id"), col("j"), col("dim"))
      .agg(count(lit(1)).as("v"))
    tf.groupBy(col("doc_id"), col("j"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("v"))))
        .as("mp"))
      .select(col("doc_id"), col("j"), expr(
        s"transform(sequence(0, ${TextVectors.Dim - 1}), d -> " +
          "coalesce(element_at(mp, d), CAST(0 AS BIGINT)))").as("arr"))
      .withColumn("n2", longDot(col("arr"), col("arr")))
  }

  /** q199: per-source retrieval eval report.
    *
    * `withWitness = false` is the 100 TB drop as API (the q308
    * discipline, uniform across the witnessed families since round
    * 11): the exact count-better rank — the one O(QueryCap·corpus)
    * scan in the query, and the reason q199 is a sweep heavyweight —
    * disappears from plan and schema, leaving the linear gold-
    * coverage report (per source: queries, gold chunks found by the
    * scorer, mean gold cosine). Rank-based recall@k at that scale
    * runs on the served-IVF/banded paths, which carry their own
    * recall witnesses (q163/q168); this flag makes q199's exact leg
    * a choice instead of a tax. The gate query keeps the default
    * (witness on). */
  def retrievalEval(s: SparkSession, dir: String,
                    withWitness: Boolean = true): DataFrame = {
    val ch = CorpusStats.chunkZone(s, dir)
    // sampled gold pairs: anchor (doc, j) → positive (doc, j+1)
    val gold = ch.as("a").join(ch.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.j") + 1 === col("b.j"))
      .select(col("a.doc_id").as("qdoc"), col("a.j").as("qj"),
        graft.dedup.Md5Prefix.h(
          concat(col("a.doc_id").cast("string"), lit(":"),
            col("a.j").cast("string"))).as("h"))
      .where(col("h") % SampleMod === 0)
      // absolute query cap (see [[QueryCap]]): the hash-smallest N —
      // plans as TakeOrderedAndProject (map-side heap, no full sort)
      .orderBy(col("h"), col("qdoc"), col("qj"))
      .limit(QueryCap)
      .select(col("qdoc"), col("qj"))
    val vecs = chunkVectors(s, dir)
    val qv = gold
      .join(vecs.select(col("doc_id").as("qdoc"), col("j").as("qj"),
        col("arr").as("qarr"), col("n2").as("qn2")), Seq("qdoc", "qj"))
    // gold score directly (one id-keyed join — NOT a filter over the
    // corpus-wide pair scan, so the expensive scan has exactly ONE
    // consumer below); absent/zero dot = the gold shares no term = miss
    val gs = qv
      .join(vecs.select(col("doc_id").as("qdoc"),
        (col("j") - 1).as("qj"), col("arr").as("garr"),
        col("n2").as("gn2")), Seq("qdoc", "qj"))
      .select(col("qdoc"), col("qj"), col("qn2"), col("gn2"),
        longDot(col("garr"), col("qarr")).as("dot"))
      .where(col("dot") > 0)
      .select(col("qdoc"), col("qj"),
        (col("dot").cast("double") /
          sqrt((col("qn2") * col("gn2")).cast("double"))).as("gcos"))
    // the (query, gold-score) relation materialized to its own zone:
    // the planner then SEES it is small (real parquet stats) and
    // builds it as the broadcast side of the unhinted nested-loop
    // below, streaming the corpus across all cores — without the
    // zone, the corpus side's exact stats win and the plan inverts
    // (corpus broadcast, queries streamed on 4 tasks — measured ~3×
    // slower at sf0.1)
    val qrel = graft.util.Scratch.memo(s, "retr-queries",
      s"retr-queries:$dir")(qv.join(gs, Seq("qdoc", "qj")))
    if (!withWitness) {
      // witness-free: the corpus-wide count-better scan (`nb` below)
      // never enters the plan — per-source gold coverage only
      val src0 = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("qdoc"), col("source"))
      return gold
        .join(qrel.select(col("qdoc"), col("qj"), col("gcos")),
          Seq("qdoc", "qj"), "left")
        .join(src0, "qdoc")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("gcos").isNotNull, 1L).otherwise(0L))
            .as("n_gold_scored"),
          avg(col("gcos")).as("mean_gold_cos"))
        .orderBy("source")
    }
    // dense all-pairs scoring (term-sharing candidates = dot > 0),
    // consumed ONCE by the count-better aggregate: rank = 1 +
    // |better|, ties break on candidate id — no per-query top-k list
    // is ever materialized
    val nb = vecs
      .repartition(s.sparkContext.defaultParallelism)
      .join(qrel,
        !(col("doc_id") === col("qdoc") && col("j") === col("qj")))
      .select(col("qdoc"), col("qj"), col("gcos"),
        col("doc_id").as("cdoc"), col("j").as("cj"),
        (longDot(col("arr"), col("qarr")).cast("double") /
          sqrt((col("qn2") * col("n2")).cast("double"))).as("cos"))
      .where(col("cos") > lit(0.0))
      .where(col("cos") > col("gcos") ||
        (col("cos") === col("gcos") &&
          (col("cdoc") < col("qdoc") ||
            (col("cdoc") === col("qdoc") && col("cj") < col("qj") + 1))))
      .groupBy(col("qdoc"), col("qj"))
      .agg(count(lit(1)).as("n_better"))
    val perQuery = gold
      .join(qrel.select(col("qdoc"), col("qj"), col("gcos")),
        Seq("qdoc", "qj"), "left")
      .join(nb, Seq("qdoc", "qj"), "left")
      .withColumn("rnk",
        when(col("gcos").isNotNull,
          lit(1L) + coalesce(col("n_better"), lit(0L))))
      .select(col("qdoc"), col("qj"),
        when(col("rnk") <= 1, 1L).otherwise(0L).as("h1"),
        when(col("rnk") <= 5, 1L).otherwise(0L).as("h5"),
        when(col("rnk") <= KMax, 1L).otherwise(0L).as("h10"),
        coalesce(when(col("rnk") <= KMax,
          expr("CAST(65536 div rnk AS BIGINT)")), lit(0L)).as("rr_fp"))
    val src = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("qdoc"), col("source"))
    perQuery.join(src, "qdoc")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("h1")).as("hits_at_1"),
        sum(col("h5")).as("hits_at_5"),
        sum(col("h10")).as("hits_at_10"),
        sum(col("rr_fp")).as("mrr_fp"))
      .select(col("source"), col("n_queries"),
        col("hits_at_1"), col("hits_at_5"), col("hits_at_10"),
        (col("hits_at_1").cast("double") /
          col("n_queries").cast("double")).as("recall_at_1"),
        (col("hits_at_5").cast("double") /
          col("n_queries").cast("double")).as("recall_at_5"),
        (col("hits_at_10").cast("double") /
          col("n_queries").cast("double")).as("recall_at_10"),
        (col("mrr_fp").cast("double") / 65536.0 /
          col("n_queries").cast("double")).as("mrr"))
      .orderBy("source")
  }

  lazy val records: Seq[Query] = Seq(
    // sparse dim-join replay: the dot>0 pair set arises naturally
    // from the term join — identical to the dense path's filter
    Query("q199_retrieval_eval", retrievalEval(_, _),
      (CorpusStats.cdcCtes +
        s""",
         |ch AS MATERIALIZED (
         |  SELECT doc_id, chunk_idx AS j,
         |    array_to_string(list(tok ORDER BY pos), ' ') AS ctext
         |  FROM c GROUP BY 1, 2),
         |ctf AS MATERIALIZED (
         |  SELECT doc_id, j,
         |    CAST((('0x' || substr(md5(t), 1, 15))::BIGINT
         |      % ${TextVectors.Dim}) AS INT) AS dim,
         |    CAST(count(*) AS BIGINT) AS v
         |  FROM (SELECT doc_id, j, unnest(string_split(ctext, ' ')) AS t
         |        FROM ch)
         |  GROUP BY 1, 2, 3),
         |nrm AS MATERIALIZED (
         |  SELECT doc_id, j, CAST(sum(v * v) AS BIGINT) AS n2
         |  FROM ctf GROUP BY 1, 2),
         |gold AS MATERIALIZED (
         |  SELECT qdoc, qj FROM (
         |    SELECT a.doc_id AS qdoc, a.j AS qj,
         |      ('0x' || substr(md5(CAST(a.doc_id AS VARCHAR) || ':'
         |        || CAST(a.j AS VARCHAR)), 1, 15))::BIGINT AS h
         |    FROM ch a JOIN ch b
         |      ON a.doc_id = b.doc_id AND a.j + 1 = b.j)
         |  WHERE h % $SampleMod = 0
         |  ORDER BY h, qdoc, qj LIMIT $QueryCap),
         |qtf AS (
         |  SELECT g.qdoc, g.qj, t.dim, t.v
         |  FROM gold g JOIN ctf t
         |    ON t.doc_id = g.qdoc AND t.j = g.qj),
         |dt AS MATERIALIZED (
         |  SELECT q.qdoc, q.qj, c.doc_id AS cdoc, c.j AS cj,
         |    CAST(sum(q.v * c.v) AS BIGINT) AS dot
         |  FROM qtf q JOIN ctf c ON c.dim = q.dim
         |    AND NOT (c.doc_id = q.qdoc AND c.j = q.qj)
         |  GROUP BY 1, 2, 3, 4),
         |sc AS MATERIALIZED (
         |  SELECT dt.qdoc, dt.qj, dt.cdoc, dt.cj,
         |    CAST(dot AS DOUBLE)
         |      / sqrt(CAST(nq.n2 * nc.n2 AS DOUBLE)) AS cos
         |  FROM dt
         |  JOIN nrm nq ON nq.doc_id = dt.qdoc AND nq.j = dt.qj
         |  JOIN nrm nc ON nc.doc_id = dt.cdoc AND nc.j = dt.cj),
         |gs AS MATERIALIZED (
         |  SELECT qdoc, qj, cos AS gcos FROM sc
         |  WHERE cdoc = qdoc AND cj = qj + 1),
         |nb AS (
         |  SELECT sc.qdoc, sc.qj, CAST(count(*) AS BIGINT) AS n_better
         |  FROM sc JOIN gs ON gs.qdoc = sc.qdoc AND gs.qj = sc.qj
         |  WHERE sc.cos > gs.gcos OR (sc.cos = gs.gcos
         |    AND (sc.cdoc < sc.qdoc
         |      OR (sc.cdoc = sc.qdoc AND sc.cj < sc.qj + 1)))
         |  GROUP BY 1, 2),
         |pq AS (
         |  SELECT g.qdoc, g.qj,
         |    CASE WHEN gs.gcos IS NOT NULL
         |      THEN 1 + coalesce(nb.n_better, 0) END AS rnk
         |  FROM gold g
         |  LEFT JOIN gs ON gs.qdoc = g.qdoc AND gs.qj = g.qj
         |  LEFT JOIN nb ON nb.qdoc = g.qdoc AND nb.qj = g.qj),
         |pm AS (
         |  SELECT qdoc, qj,
         |    CASE WHEN rnk <= 1 THEN 1 ELSE 0 END AS h1,
         |    CASE WHEN rnk <= 5 THEN 1 ELSE 0 END AS h5,
         |    CASE WHEN rnk <= $KMax THEN 1 ELSE 0 END AS h10,
         |    coalesce(CASE WHEN rnk <= $KMax
         |      THEN 65536 // rnk END, 0) AS rr_fp
         |  FROM pq),
         |agg AS (
         |  SELECT d.source,
         |    CAST(count(*) AS BIGINT) AS n_queries,
         |    CAST(sum(h1) AS BIGINT) AS hits_at_1,
         |    CAST(sum(h5) AS BIGINT) AS hits_at_5,
         |    CAST(sum(h10) AS BIGINT) AS hits_at_10,
         |    CAST(sum(rr_fp) AS BIGINT) AS mrr_fp
         |  FROM pm JOIN documents d ON d.doc_id = pm.qdoc
         |  GROUP BY 1)
         |SELECT source, n_queries, hits_at_1, hits_at_5, hits_at_10,
         |  CAST(hits_at_1 AS DOUBLE) / CAST(n_queries AS DOUBLE)
         |    AS recall_at_1,
         |  CAST(hits_at_5 AS DOUBLE) / CAST(n_queries AS DOUBLE)
         |    AS recall_at_5,
         |  CAST(hits_at_10 AS DOUBLE) / CAST(n_queries AS DOUBLE)
         |    AS recall_at_10,
         |  CAST(mrr_fp AS DOUBLE) / 65536.0 / CAST(n_queries AS DOUBLE)
         |    AS mrr
         |FROM agg ORDER BY source
         |""".stripMargin)))
}
