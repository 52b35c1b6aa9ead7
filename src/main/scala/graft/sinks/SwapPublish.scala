package graft.sinks

import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one epoch store, and the backup-then-swap publish it
  * stands on. An epoch-keeping directory `<dir>` is laid out as
  *
  * {{{
  *   <dir>/epoch=N/     one committed epoch (Hive-style, N a Long)
  *   <dir>/.staging-N/  epoch N being written; hidden from every read
  *   <dir>/.backup-N/   the previous epoch N during a swap
  * }}}
  *
  * and only this object spells those names: a crash-safety fix lands
  * once and cannot silently miss a path. Callers: JoinMaintain,
  * MergeOnRead and Scd2Maintain (sinks); KafkaShaped (streaming)
  * publishes `batch_id=N` through [[writeStaged]]. The copy-on-write
  * sinks (Upsert, Compact, MergeOnRead.compact) use [[publish]] alone
  * with their own sibling names. */
private[graft] object SwapPublish {

  /** Publish `staging` over `target`: move the existing target aside
    * to `backup`, swap staging in, drop the backup. On a failed swap
    * the restore is ATTEMPTED and the error says exactly where the
    * original data is — restored at the target, or surviving only at
    * the backup (never silently lost). Callers own deleting `staging`
    * in their finally block. */
  def publish(fs: FileSystem, staging: Path, target: Path, backup: Path,
              targetExists: Boolean): Unit = {
    fs.delete(backup, true)
    // rename returns false instead of throwing on most Hadoop
    // filesystems — unchecked, a failed publish would be silent.
    if (targetExists && !fs.rename(target, backup))
      sys.error(s"publish: could not move $target aside to $backup")
    if (!fs.rename(staging, target)) {
      val restored = !targetExists || fs.rename(backup, target)
      sys.error(s"publish: could not publish $staging to $target; " +
        (if (restored) s"original left in place at $target"
         else s"original NOT at $target — recover it from $backup"))
    }
    fs.delete(backup, true)
  }

  private val Epoch = "epoch="

  /** The directory of epoch `epoch` under `dir`. */
  def epochPath(dir: String, epoch: Long): String = s"$dir/$Epoch$epoch"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stage-write `df` (optionally partitioned by `partitionBy`) under
    * `<dir>/.staging-<tag>` and atomically publish it as `<dir>/<name>`,
    * replacing any previous `<name>`: a crash leaves either the old
    * `<name>` or a complete new one. */
  def writeStaged(df: DataFrame, dir: String, name: String, tag: Long,
                  partitionBy: String*): Unit = {
    val staging = new Path(s"$dir/.staging-$tag")
    val target = new Path(s"$dir/$name")
    val fs = fsOf(df.sparkSession, dir)
    try {
      df.write.mode("overwrite").partitionBy(partitionBy: _*)
        .parquet(staging.toString)
      fs.mkdirs(target.getParent)
      publish(fs, staging, target, new Path(s"$dir/.backup-$tag"),
        targetExists = fs.exists(target))
    } finally { fs.delete(staging, true); () }
  }

  /** [[writeStaged]] as `<dir>/epoch=<epoch>` — a replayed batch
    * idempotently rewrites its own epoch. */
  def writeEpoch(df: DataFrame, dir: String, epoch: Long,
                 partitionBy: String*): Unit =
    writeStaged(df, dir, s"$Epoch$epoch", epoch, partitionBy: _*)

  /** Epoch numbers under `dir`, ascending (directories only; dot-dirs
    * are never epochs); empty when the directory does not exist. */
  def listEpochs(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(Epoch))
      .map(_.getPath.getName.stripPrefix(Epoch).toLong).sorted
  }

  /** All parquet data files under `root`, recursively. */
  def parquetFiles(fs: FileSystem, root: Path): Seq[LocatedFileStatus] = {
    if (!fs.exists(root)) return Seq.empty
    val it = fs.listFiles(root, true)
    val b = Seq.newBuilder[LocatedFileStatus]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) b += f
    }
    b.result()
  }

  /** True if any data file sits under a Hive-style `k=v` partition
    * directory strictly BELOW `root`. Root must be qualified with the
    * same fs as the listed files or the stop-at-root comparison never
    * matches (listFiles returns scheme-qualified paths). */
  def hasPartitionDirs(fs: FileSystem, root: Path,
                       files: Seq[LocatedFileStatus]): Boolean = {
    val qRoot = fs.makeQualified(root)
    files.exists { f =>
      var p = f.getPath.getParent
      var found = false
      while (p != null && p != qRoot && !found) {
        if (p.getName.contains("=")) found = true
        p = p.getParent
      }
      found
    }
  }
}
