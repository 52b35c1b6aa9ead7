package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator's named query;
  * `oracleSql` carries the DuckDB-equivalent SQL for each SQL-
  * expressible one (driver's t2 correctness gate).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's full transform data path (SURVEY.md §3.2). */
  def entry(spark: SparkSession): DataFrame =
    ops.CoreParity.cleanedTransform(spark, "/root/testdata/sf0.001")

  /** Every contributing module's query map and oracle map, listed
    * once: `queries` and `oracleSql` are their unions (a union keeps
    * the LAST duplicate name — SparkEntrySpec counts contributions so
    * a collision fails loudly). */
  def modules: Seq[(Map[String, (SparkSession, String) => DataFrame],
                    Map[String, String])] = Seq(
    ops.CoreParity.queries -> ops.CoreParity.oracle,
    ops.Relational.queries -> ops.Relational.oracle,
    ops.Extras.queries -> ops.Extras.oracle,
    text.TextAnalysis.queries -> text.TextAnalysis.oracle,
    dedup.Dedup.queries -> dedup.Dedup.oracle,
    sim.Similarity.queries -> sim.Similarity.oracle,
    ops.EventOps.queries -> ops.EventOps.oracle,
    multimodal.Multimodal.queries -> multimodal.Multimodal.oracle,
    ops.SqlSurface.queries -> ops.SqlSurface.oracle,
    ops.Advanced.queries -> ops.Advanced.oracle,
    ops.Wave2.queries -> ops.Wave2.oracle,
    ops.Wave3.queries -> ops.Wave3.oracle,
    ops.SkewJoin.queries -> ops.SkewJoin.oracle,
    ops.Sampling.queries -> ops.Sampling.oracle,
    text.CorpusStats.queries -> text.CorpusStats.oracle,
    text.Postings.queries -> text.Postings.oracle,
    text.Normalize.queries -> text.Normalize.oracle,
    multimodal.Perceptual.queries -> multimodal.Perceptual.oracle,
    ops.Quality.queries -> ops.Quality.oracle,
    ops.Blocklist.queries -> ops.Blocklist.oracle,
    text.Bpe.queries -> text.Bpe.oracle,
    sim.KMeans.queries -> sim.KMeans.oracle,
    sim.Spectral.queries -> sim.Spectral.oracle,
    text.Sketches.queries -> text.Sketches.oracle,
    sim.Pq.queries -> sim.Pq.oracle,
    text.TextVectors.queries -> text.TextVectors.oracle,
    ops.Fuzzy.queries -> ops.Fuzzy.oracle,
    text.RetrievalEval.queries -> text.RetrievalEval.oracle,
    ops.Mining.queries -> ops.Mining.oracle)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_._2).reduce(_ ++ _)
}
