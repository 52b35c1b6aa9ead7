package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables

/** Keyed upsert (MERGE) over parquet zone tables — the incremental
  * alternative to the reference's TRUNCATE+INSERT full refresh (M1):
  * rows in `updates` replace same-key rows in the target; everything
  * else is carried over.
  *
  * Plain-parquet merge is copy-on-write: target ∖ updates (left-anti
  * join on the key, one shuffle) ∪ updates, rewritten atomically via a
  * staging directory swap. At 100 TB one bounds the rewrite by
  * partitioning the target (see Pipeline.materializePartitioned) and
  * merging only the partitions the updates touch — the anti-join shape
  * is unchanged. (A table format with deletion vectors — Delta/Iceberg
  * — replaces the rewrite; the logical MERGE here is identical.)
  */
object Upsert {

  def merge(spark: SparkSession, targetPath: String, updates: DataFrame,
            keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    // 'Table absent' must mean the PATH IS ABSENT, nothing weaker: a
    // transient read failure (permissions, corrupt footer, FS hiccup) on
    // an existing populated target must abort the merge, not silently
    // degrade it into an overwrite that drops every non-matching row.
    val probe = new org.apache.hadoop.fs.Path(targetPath)
    val probeFs = probe.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (probeFs.exists(probe)) Some(Tables.read(spark, targetPath))
      else None

    val merged = existing match {
      case None => updates
      case Some(cur) =>
        val kept = cur.join(updates.select(keyCols.map(col): _*),
          keyCols, "left_anti")
        kept.unionByName(updates.select(cur.columns.map(col).toIndexedSeq: _*))
    }

    // copy-on-write via staging dir: never read and overwrite the same
    // path in one job (Spark would delete the input mid-read).
    // Publish order is backup-then-swap so a crash at any point leaves
    // the data recoverable: either the original is still at target, or
    // it survives at .old alongside the completed staging dir. (True
    // single-op atomicity needs a table format — Delta/Iceberg — or a
    // metastore pointer swap; plain directories can't do better.)
    val staging = new org.apache.hadoop.fs.Path(targetPath + ".staging")
    val backup = new org.apache.hadoop.fs.Path(targetPath + ".old")
    val target = new org.apache.hadoop.fs.Path(targetPath)
    // the TARGET's filesystem, not FileSystem.get (the default FS): for
    // a non-default-scheme target the default FS would report rename
    // failure and the merge would silently publish nothing.
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      SwapPublish.publish(fs, staging, target, backup,
        targetExists = existing.isDefined)
    } finally fs.delete(staging, true) // no orphaned staging on failure
    Tables.read(spark, targetPath).count()
  }
}
