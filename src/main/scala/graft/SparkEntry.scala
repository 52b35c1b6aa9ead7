package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each module lists one [[Query]] record per query (name, Spark plan,
  * DuckDB oracle SQL); `queries` and `oracleSql` index those records by
  * name for the driver's t2 correctness gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's full transform data path (SURVEY.md §3.2). */
  def entry(spark: SparkSession): DataFrame =
    ops.CoreParity.cleanedTransform(spark, "/root/testdata/sf0.001")

  /** Every module that registers queries, listed once. */
  def modules: Seq[QueryModule] = Seq(
    ops.CoreParity, ops.Relational, ops.Extras, text.TextAnalysis,
    dedup.Dedup, sim.Similarity, ops.EventOps, multimodal.Multimodal,
    ops.SqlSurface, ops.Advanced, ops.Wave2, ops.Wave3, ops.SkewJoin,
    ops.Sampling, text.CorpusStats, text.Postings, text.Normalize,
    multimodal.Perceptual, ops.Quality, ops.Blocklist, text.Bpe,
    sim.KMeans, sim.Spectral, text.Sketches, sim.Pq, text.TextVectors,
    ops.Fuzzy, text.RetrievalEval, ops.Mining)

  private lazy val registry: Map[String, Query] =
    Query.index(modules.flatMap(_.records))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }
}

/** One registered query: its name, its Spark plan over a table
  * directory, and the DuckDB SQL the driver's correctness gate checks
  * its result against. */
final case class Query(name: String,
                       run: (SparkSession, String) => DataFrame,
                       oracle: String)

object Query {

  /** The records by name; a name given twice fails here, naming it. */
  def index(records: Seq[Query]): Map[String, Query] = {
    val dups = records.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    records.map(q => q.name -> q).toMap
  }
}

/** A module of queries: it lists each query's [[Query]] record once, and
  * the name-keyed views are derived from those records. */
trait QueryModule {
  def records: Seq[Query]

  private lazy val byName = Query.index(records)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.run }

  lazy val oracle: Map[String, String] = byName.map { case (n, q) => n -> q.oracle }
}
