package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Merge-on-read zone table: keyed MERGE with O(delta) write cost.
  *
  * [[Upsert.merge]] is copy-on-write — every merge rewrites the whole
  * table, which at 100 TB turns a 1-row update into a 100 TB job. This
  * sink is the other half of the trade, the LSM/Delta-style layout:
  *
  * {{{
  *   root/base/           immutable base parquet (epoch 0)
  *   root/delta/epoch=N/  one dir per merge: upserted rows and
  *                        key-only tombstones (_op = 'u' | 'd')
  * }}}
  *
  *  - `merge`/`delete` append ONE delta directory — write cost is the
  *    size of the change, the base is never touched;
  *  - `read` reconciles at scan time: base ∪ deltas, latest epoch per
  *    key wins, tombstones drop — ONE shuffle on the key (the
  *    documented merge-on-read cost);
  *  - `compact` folds the reconciled view back into a fresh base and
  *    clears the deltas (bounding the delta chain), publishing with the
  *    same backup-then-swap used by every copy-on-write sink here.
  *
  * Epoch publish is directory-rename atomic ([[SwapPublish.writeEpoch]]:
  * staged write, then rename to `epoch=N`), single writer assumed —
  * multi-writer commit coordination is what a real table format's
  * transaction log adds.
  */
object MergeOnRead {

  private val OpCol = "_op"
  private val EpochCol = "_epoch"

  private def basePath(root: String) = s"$root/base"
  private def deltaRoot(root: String) = s"$root/delta"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Create the table: `df` becomes the immutable base (epoch 0). */
  def init(spark: SparkSession, root: String, df: DataFrame): Unit = {
    require(!fs(spark, root).exists(new Path(basePath(root))),
      s"merge-on-read table already exists at $root")
    df.write.mode(SaveMode.ErrorIfExists).parquet(basePath(root))
  }

  /** Committed delta epochs, ascending (directory listing — no data
    * read; a `.staging` dir from a crashed writer is ignored). */
  def epochs(spark: SparkSession, root: String): Seq[Long] =
    SwapPublish.listEpochs(spark, deltaRoot(root))

  private def appendDelta(spark: SparkSession, root: String,
                          delta: DataFrame): Long = {
    val next = epochs(spark, root).lastOption.getOrElse(0L) + 1
    SwapPublish.writeEpoch(delta, deltaRoot(root), next)
    next
  }

  /** MERGE: rows in `updates` replace same-key rows of the current
    * view; new keys insert. Writes one delta dir — O(|updates|).
    * Standard MERGE contract: `updates` must hold at most one row per
    * key (two same-key rows in ONE merge tie on epoch and the read-side
    * winner is undefined; across merges, later epochs win). */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    val base = Tables.read(spark, basePath(root))
    // cast through the base schema: a caller-typed INT key against a
    // BIGINT base would otherwise write an epoch dir whose parquet
    // physical type conflicts and break every later read
    appendDelta(spark, root,
      updates.select(base.columns.map(c =>
        col(c).cast(base.schema(c).dataType).as(c)).toIndexedSeq: _*)
        .withColumn(OpCol, lit("u")))
  }

  /** DELETE by key: writes key-only tombstones (non-key columns null).
    * O(|keys|). */
  def delete(spark: SparkSession, root: String, keys: DataFrame,
             keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "delete requires at least one key column")
    val base = Tables.read(spark, basePath(root))
    val tombstones = keys.select(keyCols.map(c =>
      col(c).cast(base.schema(c).dataType).as(c)): _*)
    val widened = base.columns.foldLeft(tombstones) { (df, c) =>
      if (keyCols.contains(c)) df
      else df.withColumn(c, lit(null).cast(base.schema(c).dataType))
    }
    appendDelta(spark, root,
      widened.select(base.columns.map(col).toIndexedSeq: _*)
        .withColumn(OpCol, lit("d")))
  }

  /** The reconciled current view: ONE shuffle on the key (row_number
    * over epoch-desc), tombstones filtered after the argmax so a
    * delete hides base rows AND earlier upserts.
    *
    * `asOf` = time travel: reconcile only deltas with epoch ≤ `asOf`
    * (0 = the base alone) — the epoch directory layout IS the history,
    * so every past table state stays queryable until `compact` folds
    * the chain. */
  def read(spark: SparkSession, root: String, keyCols: Seq[String],
           asOf: Long = Long.MaxValue): DataFrame =
    readView(spark, root, keyCols, asOf, touched = None)

  /** [[read]] with an optional key restriction applied BELOW the
    * reconcile window. Restricting before `row_number` is valid
    * because the window partitions by exactly `keyCols` — a semi-join
    * on the same keys keeps or drops whole window partitions and
    * cannot change the argmax within a kept one. [[diff]] depends on
    * this placement for its O(delta) contract: a semi-join ABOVE the
    * window would still shuffle the entire base ∪ deltas through the
    * reconcile and only then discard untouched keys (the same
    * join-above-window trap `IndexMaintain.applyBatch` documents). */
  private def readView(spark: SparkSession, root: String,
                       keyCols: Seq[String], asOf: Long,
                       touched: Option[DataFrame]): DataFrame = {
    val base = Tables.read(spark, basePath(root))
      .withColumn(OpCol, lit("u")).withColumn(EpochCol, lit(0L))
    val es = epochs(spark, root).filter(_ <= asOf)
    val all =
      if (es.isEmpty) base
      else {
        // partition-dir epoch: one read over the delta root picks up
        // every committed epoch; basePath keeps the partition column
        val deltas = spark.read
          .option("basePath", deltaRoot(root))
          .parquet(es.map(SwapPublish.epochPath(deltaRoot(root), _)): _*)
          .withColumn(EpochCol, col("epoch").cast("long")).drop("epoch")
        base.unionByName(deltas.select(base.columns.map(col).toIndexedSeq: _*))
      }
    val restricted = touched.fold(all)(t => all.join(t, keyCols, "left_semi"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(EpochCol).desc)
    restricted.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col(OpCol) === "u")
      .drop("_rn", OpCol, EpochCol)
  }

  /** DIFF between two as-of states — the CDC-out / audit face of the
    * epoch layout: every key whose row changed between `fromEpoch` and
    * `toEpoch`, classified insert / delete / update, with the full
    * before and after rows as structs.
    *
    * O(DELTA), not O(table): the two as-of views can only differ on
    * keys present in the delta epochs of (fromEpoch, toEpoch], so both
    * views are first semi-joined down to that touched-key set (one
    * key-column read over the delta dirs — tombstones carry their keys
    * too) and only then full-outer joined with a null-safe struct
    * compare. Diffing two adjacent epochs of a 100 TB table that
    * changed one row reads the full views' METADATA but shuffles only
    * the touched keys.
    *
    * Columns: keyCols…, op, before (struct of non-key cols, null for
    * inserts), after (struct, null for deletes). */
  def diff(spark: SparkSession, root: String, keyCols: Seq[String],
           fromEpoch: Long, toEpoch: Long): DataFrame = {
    require(fromEpoch <= toEpoch,
      s"diff wants fromEpoch <= toEpoch, got $fromEpoch > $toEpoch")
    val es = epochs(spark, root).filter(e => e > fromEpoch && e <= toEpoch)
    val touched =
      if (es.isEmpty)
        Tables.read(spark, basePath(root))
          .select(keyCols.map(col): _*).limit(0)
      else spark.read
        .option("basePath", deltaRoot(root))
        .parquet(es.map(SwapPublish.epochPath(deltaRoot(root), _)): _*)
        .select(keyCols.map(col): _*).distinct()
    // the restriction rides BELOW read's reconcile window (see
    // readView) — above it, the whole base ∪ deltas would shuffle
    // through row_number before the untouched keys were discarded
    val before = readView(spark, root, keyCols, asOf = fromEpoch,
      touched = Some(touched))
    val after = readView(spark, root, keyCols, asOf = toEpoch,
      touched = Some(touched))
    val dataCols = before.columns.filterNot(keyCols.contains).toSeq
    def packed(df: DataFrame, side: String): DataFrame =
      df.select(
        keyCols.map(k => col(k).as(s"${side}_$k")) :+
          struct(dataCols.map(col): _*).as(side): _*)
    val joined = packed(before, "b").join(packed(after, "a"),
      keyCols.map(k => col(s"b_$k") <=> col(s"a_$k"))
        .reduce(_ && _), "full_outer")
    joined
      .withColumn("op",
        when(col("b").isNull, lit("insert"))
          .when(col("a").isNull, lit("delete"))
          .when(!(col("b") <=> col("a")), lit("update")))
      .where(col("op").isNotNull)
      .select(keyCols.map(k =>
          coalesce(col(s"b_$k"), col(s"a_$k")).as(k)) ++
        Seq(col("op"), col("b").as("before"), col("a").as("after")): _*)
  }

  /** Fold the deltas into a fresh base and clear them — bounds the
    * read-side chain. Backup-then-swap publish; the delta clear runs
    * only after the new base is live. */
  def compact(spark: SparkSession, root: String,
              keyCols: Seq[String]): Long = {
    val f = fs(spark, root)
    val staging = new Path(basePath(root) + ".staging")
    val backup = new Path(basePath(root) + ".old")
    val target = new Path(basePath(root))
    val folded = epochs(spark, root).lastOption.getOrElse(0L)
    try {
      read(spark, root, keyCols).write
        .mode(SaveMode.Overwrite).parquet(staging.toString)
      SwapPublish.publish(f, staging, target, backup, targetExists = true)
    } finally f.delete(staging, true)
    // deltas ≤ folded epoch are now part of the base; a crash between
    // publish and this delete only costs re-reading no-op deltas (the
    // argmax keeps the same winners: base rows now CARRY the winning
    // values, and any re-read delta re-asserts them)
    f.delete(new Path(deltaRoot(root)), true)
    folded
  }
}
