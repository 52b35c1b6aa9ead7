package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.Tables

/** The reference's orchestration semantics as plain Scala sequencing
  * (SURVEY.md §2.9): a linear task DAG (C1) with fail-fast quality
  * gates (C2), ordinary return values instead of XCom (C3), and
  * full-refresh materialization with post-write recount (M1/M2;
  * reference dags/taxi_transform_dag.py:27-105).
  *
  * Spark jobs are already lazily-staged DAGs — the pipeline layer only
  * sequences actions and carries metrics.
  */
object Pipeline {

  final case class StageReport(name: String, rows: Long)
  final case class RunReport(stages: Seq[StageReport])

  /** C2: the reference's empty-input gate — abort before transforming
    * (reference dags/taxi_transform_dag.py:31-32). */
  def qualityGate(df: DataFrame, what: String): Long = {
    val n = df.count()
    require(n > 0, s"No data in $what — aborting pipeline")
    n
  }

  /** M1+M2: full-refresh materialize (overwrite ≡ TRUNCATE+INSERT,
    * atomic per job) and recount from the written files — the recount
    * re-reads the sink, like the reference's post-insert COUNT(*). */
  def materialize(spark: SparkSession, df: DataFrame,
                  path: String): Long = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    Tables.read(spark, path).count()
  }

  /** Partition-layout materialize: the 100 TB default. Output is laid
    * out by the partition columns so downstream readers with matching
    * predicates scan only the partitions they touch (PartitionFilters
    * at the scan — verified in PipelineSpec). Writer-side,
    * `maxRecordsPerFile` caps file sizes against partition skew. */
  def materializePartitioned(spark: SparkSession, df: DataFrame,
                             path: String, partitionCols: Seq[String],
                             maxRecordsPerFile: Long = 5000000L): Long = {
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
    Tables.read(spark, path).count()
  }

  /** [[materialize]] with the row count OBSERVED during the write
    * (`Dataset.observe` accumulates on the executors as rows stream
    * to the sink) instead of re-scanned afterwards — at 100 TB the
    * post-insert COUNT(*) is a full second read of everything just
    * written. The reference's recount stays available as an AUDIT
    * (`auditRecount = true` re-reads and cross-checks — the gate mode;
    * production turns it off and keeps the free observed metric). */
  def materializeObserved(spark: SparkSession, df: DataFrame,
                          path: String,
                          auditRecount: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = new org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    val n = obs.get("n").asInstanceOf[Long]
    if (auditRecount) {
      val back = Tables.read(spark, path).count()
      require(back == n,
        s"sink recount $back != observed $n — corrupt write at $path")
    }
    n
  }

  /** C1: validate → transform → summarize, fail-fast (reference chain
    * dags/taxi_transform_dag.py:102-105). */
  def run(spark: SparkSession,
          raw: DataFrame,
          transform: DataFrame => DataFrame,
          summarize: DataFrame => DataFrame,
          targetPath: String): RunReport = {
    val rawCount = qualityGate(raw, "raw input")
    val cleaned = transform(raw)
    val written = materialize(spark, cleaned, targetPath)
    val back = Tables.read(spark, targetPath)
    val summaryRows = summarize(back).count()
    RunReport(Seq(
      StageReport("validate_raw", rawCount),
      StageReport("transform_materialize", written),
      StageReport("summary", summaryRows)))
  }
}
