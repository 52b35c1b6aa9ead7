package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Incremental maintenance of a materialized equi-JOIN view: keep
  * `V = fact ⋈ dim` current as INSERT batches arrive on EITHER side,
  * in any interleaving, without ever recomputing the full join.
  *
  * The insert-only delta rule (Griffin & Libkin 1995, specialized):
  * on a fact batch, `ΔV = Δfact ⋈ dim_current`; on a dim batch,
  * `ΔV = fact_current ⋈ Δdim`. Because each side's "current" store is
  * appended AFTER its batch's join, every (f, d) pair is emitted by
  * exactly ONE of the two rules — whichever side arrived second —
  * so the fold is order-invariant: any batch split/interleaving of
  * the same rows converges to `fact_all ⋈ dim_all` (JoinMaintainSpec
  * pins a 5-fold out-of-order interleaving against the one-shot
  * join, including late-arriving-dimension rows that must wait in
  * the fact store until their key shows up).
  *
  * Scale shape: the fact store is laid out PARTITIONED BY
  * `kb = pmod(hash(key), Buckets)` — a dim batch prunes its fact
  * scan to the partitions its keys hash into (directory-level, the
  * [[graft.sim.IvfServe]] cell discipline; pinned via inputFiles in
  * the spec), so a small dim delta reads O(|touched buckets|), not
  * O(fact). A fact batch joins only against the dim store (the small
  * side at 100 TB — customer/part-sized, not lineitem-sized).
  *
  * Crash/replay exactly-once: every apply is keyed by a caller-supplied
  * `batchId` (foreachBatch's id). All three writes of one batch are
  * deterministic, batch-keyed, and idempotent — the view delta lands
  * at `view/epoch=<batchId>` (swap-published), the side-store append
  * lands at `<side>/batch=<batchId>` (overwrite), and a `commits/`
  * marker written LAST makes the whole batch a no-op on replay. A
  * crash anywhere before the marker leaves a replayed batch that
  * RE-DERIVES the same delta from the same predecessor stores
  * (store reads exclude un-committed batch dirs of later ids by the
  * single-writer contract below) and rewrites the same directories;
  * a crash after the marker replays as a pure skip. Double-counted
  * pairs and permanently-missed matches are both structurally
  * impossible.
  *
  * Contract: insert-only on both sides; each fact row's id and each
  * dim key arrives EXACTLY once across all batches (upstream
  * exactly-once ingest); dim keys are unique; batch ids are unique
  * and strictly increasing across BOTH sides and applied by a single
  * writer that replays a failed batch before advancing (exactly the
  * Structured Streaming foreachBatch restart semantics). Inner-join
  * view: fact rows whose dim key never arrives stay out of the view.
  */
object JoinMaintain {

  /** Fact-store hash buckets. 32 matches the local gate; at cluster
    * scale this is the fact table's bucket count (≥ shuffle
    * parallelism, sized so one bucket ≪ executor memory). */
  val Buckets = 32

  private def factPath(root: String) = s"$root/fact"
  private def dimPath(root: String) = s"$root/dim"
  private def viewRoot(root: String) = s"$root/view"
  private def markerPath(root: String, batchId: Long) =
    s"$root/commits/b$batchId"

  private def fs(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def kb(key: String) =
    pmod(hash(col(key)), lit(Buckets)).as("kb")

  private def committed(s: SparkSession, root: String,
                        batchId: Long): Boolean =
    fs(s, root).exists(new Path(markerPath(root, batchId)))

  /** The marker write is the batch's commit point — everything before
    * it is deterministic and idempotently rewritten on replay. */
  private def mark(s: SparkSession, root: String, batchId: Long): Unit = {
    val p = new Path(markerPath(root, batchId))
    val f = fs(s, root)
    f.mkdirs(p.getParent)
    f.create(p, true).close()
  }

  /** Create the three stores (batch id 0). `fact0`/`dim0` may be empty
    * but must carry the schema; `key` must exist on both sides. */
  def init(s: SparkSession, root: String, fact0: DataFrame,
           dim0: DataFrame, key: String): Unit = {
    if (committed(s, root, 0L)) return // replayed init: already done
    fact0.withColumn("kb", kb(key))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("kb").parquet(s"${factPath(root)}/batch=0")
    dim0.write.mode(SaveMode.Overwrite)
      .parquet(s"${dimPath(root)}/batch=0")
    SwapPublish.writeEpoch(fact0.join(dim0, key), viewRoot(root), 0L)
    mark(s, root, 0L)
  }

  /** Insert a fact batch: `ΔV = batch ⋈ dim_current`, then append the
    * batch to the fact store (its own `batch=` dir), then mark.
    * O(|batch| + matched dim keys); no-op when `batchId` is already
    * marked (foreachBatch replay). */
  def applyFactBatch(s: SparkSession, root: String, key: String,
                     batch: DataFrame, batchId: Long): Unit = {
    if (committed(s, root, batchId)) return
    val dim = Tables.read(s, dimPath(root)).drop("batch")
    SwapPublish.writeEpoch(batch.join(dim, key), viewRoot(root), batchId)
    batch.withColumn("kb", kb(key))
      .write.mode(SaveMode.Overwrite).partitionBy("kb")
      .parquet(s"${factPath(root)}/batch=$batchId")
    mark(s, root, batchId)
  }

  /** Insert a dim batch: `ΔV = fact_current ⋈ batch`, with the fact
    * scan pruned to the batch's hash buckets, then append the batch
    * to the dim store, then mark. O(|batch| + touched fact buckets);
    * no-op when `batchId` is already marked. The bucket list is
    * collected driver-side — bounded by min(|batch|, [[Buckets]])
    * values. */
  def applyDimBatch(s: SparkSession, root: String, key: String,
                    batch: DataFrame, batchId: Long): Unit = {
    if (committed(s, root, batchId)) return
    val buckets = batch
      .select(pmod(hash(col(key)), lit(Buckets)).as("kb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val fact = Tables.read(s, factPath(root))
      .where(col("kb").isin(buckets: _*)).drop("kb", "batch")
    SwapPublish.writeEpoch(fact.join(batch, key), viewRoot(root), batchId)
    batch.write.mode(SaveMode.Overwrite)
      .parquet(s"${dimPath(root)}/batch=$batchId")
    mark(s, root, batchId)
  }

  /** The current view: union of all committed deltas. A `.backup-*`
    * dir from a crashed swap is outside the `epoch=` glob; a
    * half-written epoch of an unmarked batch is rewritten before its
    * batch can ever be marked, so readers behind the single writer
    * see exactly the committed fold. */
  def read(s: SparkSession, root: String): DataFrame =
    Tables.read(s, viewRoot(root)).drop("epoch")

  /** The pruned-scan witness for the spec: the fact scan a dim batch
    * of these keys performs (its plan must carry PartitionFilters on
    * `kb`). */
  private[graft] def prunedFactScan(s: SparkSession, root: String,
                                    key: String,
                                    batch: DataFrame): DataFrame = {
    val buckets = batch
      .select(pmod(hash(col(key)), lit(Buckets)).as("kb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    Tables.read(s, factPath(root))
      .where(col("kb").isin(buckets: _*))
  }
}
