package graft.sinks

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

import graft.Tables
import graft.schema.SchemaEvolver

/** Warehouse-facing utilities mirroring the reference's service edges
  * (SURVEY.md §2.1/§2.9):
  *
  *  - S5 catalog introspection (information_schema.columns ≙
  *    `spark.catalog` / `df.schema`),
  *  - S8 multi-statement SQL execution (split on ';', run each),
  *  - C4 connectivity probe (`SELECT 1`),
  *  - S4 JDBC sink for true warehouse parity (the engine's native sink
  *    is parquet; JDBC is the compatibility edge for Postgres/MySQL
  *    targets — partitioned writes, batched inserts).
  */
object Warehouse {

  final case class TableStats(files: Int, bytes: Long, rows: Long,
                              columns: Int)

  /** C5 grown up: physical health of a parquet zone table — file
    * count (compaction trigger: many small files), total bytes, exact
    * row count, column count. The rows count is the only distributed
    * job; listing reads no data. */
  def tableStats(spark: SparkSession, path: String): TableStats = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = SwapPublish.parquetFiles(fs, p)
    if (files.isEmpty) return TableStats(0, 0L, 0L, 0)
    val df = Tables.read(spark, path)
    TableStats(files.size, files.map(_.getLen).sum, df.count(),
      df.columns.length)
  }

  /** S5: column name/type listing for a registered table or view. */
  def describeTable(spark: SparkSession, table: String): Seq[(String, String)] =
    spark.table(table).schema.fields.toSeq
      .map(f => f.name -> f.dataType.simpleString)

  /** S8: execute a multi-statement SQL script (the reference splits
    * generated DDL on ';' and runs each non-empty statement,
    * agent-schema/app.py:226-231). Returns the last result. */
  def executeScript(spark: SparkSession, script: String): Option[DataFrame] =
    SchemaEvolver.splitStatements(script)
      .foldLeft(Option.empty[DataFrame])((_, stmt) => Some(spark.sql(stmt)))

  /** C4: the reference's `SELECT 1` connectivity probe. */
  def probe(spark: SparkSession): Boolean =
    spark.sql("SELECT 1").collect().sameElements(Array(Row(1)))

  /** S4: JDBC writer for postgres/mysql warehouse targets. Batched and
    * partition-parallel; `truncate=true` preserves the target's DDL on
    * overwrite (the reference's TRUNCATE+INSERT refresh, M1).
    * Exercised end-to-end in WarehouseSpec against embedded Derby:
    * append-create, read-back equality, and a truncate overwrite into a
    * pre-created lattice-DDL table whose column types survive. */
  def jdbcWriter(df: DataFrame, url: String, table: String,
                 user: String, password: String,
                 batchSize: Int = 10000): DataFrameWriter[Row] =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("batchsize", batchSize)
      .option("truncate", "true")
}
