package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.Tables

/** Small-file compaction for parquet zone tables.
  *
  * Streaming appends and per-batch ingests accrete many small files;
  * at 100 TB the scan cost becomes dominated by file-open overhead and
  * driver-side listing. Compaction rewrites a table into
  * ceil(bytes / targetFileBytes) files via `coalesce` — a NARROW
  * dependency, no shuffle: each output task concatenates input splits.
  * Publication is the same backup-then-swap used by [[Upsert]], so a
  * crash leaves either the original or a recoverable backup.
  *
  * Partitioned layouts compact per-partition (pass the partition dir),
  * which also bounds rewrite size — the same incremental story as
  * MERGE.
  */
object Compact {

  final case class Report(filesBefore: Int, filesAfter: Int,
                          bytes: Long, rows: Long)

  def compact(spark: SparkSession, tablePath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Report = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val target = new Path(tablePath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = SwapPublish.parquetFiles(fs, target)
    // empty/new table: nothing to compact — a no-op report, not an
    // opaque schema-inference error from the read below
    if (before.isEmpty) return Report(0, 0, 0L, 0L)
    // a flat rewrite of a partitioned root would silently destroy the
    // k=v layout (and downstream partition pruning) — refuse; callers
    // compact per-partition directory
    require(!SwapPublish.hasPartitionDirs(fs, target, before),
      s"compact: $tablePath has Hive-style partition subdirectories; " +
        "compact each partition directory instead")
    val bytes = before.map(_.getLen).sum
    val desired = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      .min(Int.MaxValue).toInt

    val staging = new Path(tablePath + ".compacting")
    val backup = new Path(tablePath + ".old")
    val df = Tables.read(spark, tablePath)
    var rows = 0L
    try {
      // coalesce = narrow repartitioning: no shuffle, tasks concatenate
      // input splits. (coalesce never increases partition count, so a
      // table already wider than `desired` only ever shrinks.)
      df.coalesce(desired).write.mode(SaveMode.Overwrite)
        .parquet(staging.toString)
      rows = Tables.read(spark, staging.toString).count()
      SwapPublish.publish(fs, staging, target, backup, targetExists = true)
    } finally fs.delete(staging, true)
    Report(before.size, SwapPublish.parquetFiles(fs, target).size, bytes, rows)
  }
}
