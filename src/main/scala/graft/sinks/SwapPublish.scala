package graft.sinks

import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** The engine's one epoch store, and the backup-then-swap publish it
  * stands on. An epoch-keeping directory `<dir>` is laid out as
  *
  * {{{
  *   <dir>/epoch=N/     one committed epoch (Hive-style, N a Long)
  *   <dir>/.staging-N/  epoch N being written; hidden from every read
  *   <dir>/.backup-N/   the previous epoch N during a swap
  *   <root>/<fence>     a marker file holding the Long value of the run
  *                      that holds it (e.g. `_compact_inflight`)
  * }}}
  *
  * and only this object spells those names: a crash-safety fix lands
  * once and cannot silently miss a path. Callers: ClusterMaint,
  * HourlyCountMaint, NearDupMaint, SuffixMaint and KafkaShaped
  * (streaming; KafkaShaped publishes `batch_id=N` through
  * [[writeStaged]]); JoinMaintain, MergeOnRead and Scd2Maintain
  * (sinks). The copy-on-write sinks (Upsert, Compact,
  * MergeOnRead.compact) use [[publish]] alone with their own sibling
  * names. */
private[graft] object SwapPublish {

  /** Root-level fence held by a running epoch compaction
    * (NearDupMaint, SuffixMaint); its value is the `upToEpoch`. */
  val CompactFence = "_compact_inflight"

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

  /** Stage-write `df` as parquet (optionally partitioned) under
    * `<dir>/.staging-<tag>`, hand the staging dir to `place`, and
    * always clean the staging dir. */
  private def staged[A](df: DataFrame, dir: String, tag: Long,
                        partitionBy: Seq[String])
                       (place: (FileSystem, Path) => A): A = {
    val staging = new Path(s"$dir/.staging-$tag")
    val fs = fsOf(df.sparkSession, dir)
    try {
      df.write.mode("overwrite").partitionBy(partitionBy: _*)
        .parquet(staging.toString)
      place(fs, staging)
    } finally { fs.delete(staging, true); () }
  }

  /** Backup-swap `src` in as `<dir>/<name>`, backup `.backup-<tag>`. */
  private def publishAs(fs: FileSystem, src: Path, dir: String,
                        name: String, tag: Long): Unit = {
    val target = new Path(s"$dir/$name")
    fs.mkdirs(target.getParent)
    publish(fs, src, target, new Path(s"$dir/.backup-$tag"),
      targetExists = fs.exists(target))
  }

  /** Stage-write `df` (optionally partitioned by `partitionBy`) and
    * atomically publish it as `<dir>/<name>`, replacing any previous
    * `<name>`: a crash leaves either the old `<name>` or a complete
    * new one. */
  def writeStaged(df: DataFrame, dir: String, name: String, tag: Long,
                  partitionBy: String*): Unit =
    staged(df, dir, tag, partitionBy)(publishAs(_, _, dir, name, tag))

  /** [[writeStaged]] as `<dir>/epoch=<epoch>` — a replayed batch
    * idempotently rewrites its own epoch. */
  def writeEpoch(df: DataFrame, dir: String, epoch: Long,
                 partitionBy: String*): Unit =
    writeStaged(df, dir, s"$Epoch$epoch", epoch, partitionBy: _*)

  /** [[writeEpoch]] once per value `v` of column `part`: one staged
    * write partitioned by `part`, then each partition published as
    * `<dir>/<part>=<v>/epoch=<epoch>`. Returns the values written. */
  def writePartEpochs(df: DataFrame, dir: String, part: String,
                      epoch: Long): Seq[String] =
    staged(df, dir, epoch, Seq(part)) { (fs, st) =>
      fs.listStatus(st).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"$part=")).map { child =>
          publishAs(fs, new Path(st, child), s"$dir/$child",
            s"$Epoch$epoch", epoch)
          child.stripPrefix(s"$part=")
        }
    }

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

  /** The newest epoch of `dir` below `before`, if any. */
  def newestEpoch(spark: SparkSession, dir: String,
                  before: Long = Long.MaxValue): Option[String] =
    listEpochs(spark, dir).filter(_ < before).lastOption
      .map(epochPath(dir, _))

  /** The newest epoch of `dir` below `before`, or `empty` — the read
    * of a zone whose every epoch is a whole rewrite. */
  def readNewest(spark: SparkSession, dir: String, empty: => DataFrame,
                 before: Long = Long.MaxValue): DataFrame =
    newestEpoch(spark, dir, before).fold(empty)(Tables.read(spark, _))

  /** The union of every epoch of `dir` below `before`, or `empty` —
    * the read of a zone whose epochs are disjoint appends. */
  def readAll(spark: SparkSession, dir: String, empty: => DataFrame,
              before: Long = Long.MaxValue): DataFrame = {
    val paths = listEpochs(spark, dir).filter(_ < before)
      .map(epochPath(dir, _))
    if (paths.isEmpty) empty else Tables.read(spark, paths: _*)
  }

  /** Delete the given epochs of `dir`. */
  def dropEpochs(spark: SparkSession, dir: String,
                 epochs: Seq[Long]): Unit = {
    val fs = fsOf(spark, dir)
    epochs.foreach(e => fs.delete(new Path(epochPath(dir, e)), true))
  }

  /** Delete every epoch of `dir` below its newest — for zones where
    * each epoch is a whole rewrite, so only the newest is current. */
  def dropSuperseded(spark: SparkSession, dir: String): Unit =
    dropEpochs(spark, dir, listEpochs(spark, dir).dropRight(1))

  /** Squash every epoch ≤ `upTo` of a disjoint-append zone into
    * `epoch=<upTo>` (their `.distinct()` union, backup-swapped in),
    * then delete the others. Convergent: re-run after a crash between
    * the swap and the deletes, the squashed epoch and the surviving
    * originals hold bitwise-duplicate rows that `.distinct()` folds
    * back to exact content. A no-op below two epochs. */
  def squash(spark: SparkSession, dir: String, upTo: Long): Unit = {
    val es = listEpochs(spark, dir).filter(_ <= upTo)
    if (es.size > 1) {
      writeEpoch(Tables.read(spark, es.map(epochPath(dir, _)): _*)
        .distinct(), dir, upTo)
      dropEpochs(spark, dir, es.filter(_ != upTo))
    }
  }

  /** Restore orphaned `.backup-<e>` dirs left by a crash inside
    * [[publish]]'s rename window (target moved aside, staging not
    * yet swapped in): a backup whose `epoch=<e>` target is ABSENT is
    * the SOLE surviving copy of that epoch — a naive compaction
    * re-run would both miss it (epoch listings skip dot-dirs) and
    * destroy it (publish begins by deleting the backup) — so restore
    * it; a backup whose target exists is a post-swap leftover (the
    * target already holds a superset) and drops. */
  def recoverOrphanBackups(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) return
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".backup-")) {
        val target = new Path(p, Epoch + name.stripPrefix(".backup-"))
        if (!fs.exists(target))
          require(fs.rename(st.getPath, target),
            s"could not restore orphan backup ${st.getPath} to $target")
        else fs.delete(st.getPath, true): Unit
      }
    }
  }

  /** Hold fence `<root>/<name>` at `value`. Absent, it is written
    * ATOMICALLY (temp name, then rename — create-then-write would
    * leave a crash window where an EMPTY fence refuses even the
    * legitimate re-run). Present, only the run holding the same
    * value may proceed; any other value — −1 for an empty or corrupt
    * fence, which no run matches and the operator resolves by hand —
    * fails `require` with `refusal(held)`. */
  def holdFence(spark: SparkSession, root: String, name: String,
                value: Long)(refusal: Long => String): Unit = {
    val fs = fsOf(spark, root)
    val fence = new Path(root, name)
    if (fs.exists(fence)) {
      val in = fs.open(fence)
      val held =
        try scala.util.Try(scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toLong).getOrElse(-1L)
        finally in.close()
      require(held == value, refusal(held))
    } else {
      val tmp = new Path(root, s".$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(value.toString.getBytes("UTF-8")) finally out.close()
      require(fs.rename(tmp, fence), s"could not publish fence $fence")
    }
  }

  /** Fail with `msg` while fence `<root>/<name>` is held. */
  def requireNoFence(spark: SparkSession, root: String, name: String)
                    (msg: => String): Unit =
    require(!fsOf(spark, root).exists(new Path(root, name)), msg)

  /** Release fence `<root>/<name>` — the last step of a run. */
  def releaseFence(spark: SparkSession, root: String, name: String): Unit =
    fsOf(spark, root).delete(new Path(root, name), false): Unit

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
