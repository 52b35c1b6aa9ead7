package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained SCD Type-2 zone — the IVM companion of
  * [[graft.ops.EventOps.scd2Intervals]] (q218), following the
  * [[IndexMaintain]] touched-blocks pattern: raw events append into a
  * bucket-partitioned epoch chain, and each ingest batch recomputes
  * intervals ONLY for the users the batch touches, merging the result
  * into a [[MergeOnRead]] table that stores one row per user (the
  * interval list as an array column — so the MERGE contract "one row
  * per key" holds exactly).
  *
  * Cost per batch: O(touched users' event history), not O(corpus) —
  * the recompute reads only the touched users' bucket directories
  * (a literal `bucket IN (…)` over ≤ [[Buckets]] values prunes at the
  * directory level, pinned in Scd2MaintainSpec) and the merge writes
  * one delta epoch of |touched users| rows. Out-of-order batches are
  * handled by construction: the recompute always folds the user's
  * FULL raw history, so arrival order cannot matter — the spec
  * interleaves slices by event_id to prove it.
  *
  * The interval transform itself is [[graft.ops.EventOps.scd2Of]] —
  * the SAME code the q218 gate runs, so the maintained zone can never
  * drift from the batch spelling (q223 is gated by the identical
  * oracle string as q218).
  */
object Scd2Maintain {

  /** User-hash directory fan-out of the raw-events zone. */
  val Buckets = 64

  private def eventsRoot(root: String) = s"$root/events"
  private def ivRoot(root: String) = s"$root/intervals"

  private def withBucket(batch: DataFrame): DataFrame =
    batch.withColumn("bucket", pmod(col("user_id"), lit(Buckets)))

  /** Publish `batch` as raw-events epoch `epoch`, bucket-partitioned:
    * staged, so the epoch directory appears only complete. */
  private def commitEvents(batch: DataFrame, root: String,
                           epoch: Long): Unit =
    SwapPublish.writeEpoch(withBucket(batch), eventsRoot(root), epoch,
      "bucket")

  /** Publish `batch` as the next sequential epoch. Sequential epochs
    * live below [[StreamEpochBase]]: numbered past the newest stream
    * epoch, one would take a later stream batch's commit marker and
    * that batch would be skipped as committed. */
  private def appendEvents(s: SparkSession, root: String,
                           batch: DataFrame): Unit = {
    val epoch = SwapPublish.listEpochs(s, eventsRoot(root))
      .filter(_ < StreamEpochBase).lastOption.getOrElse(0L) + 1L
    require(epoch < StreamEpochBase,
      s"$root: sequential event epochs 1..${StreamEpochBase - 1} are all taken")
    commitEvents(batch, root, epoch)
  }

  /** One row per user: the interval list packed as a sorted array —
    * the shape that makes interval replacement a single-key MERGE. */
  private def pack(iv: DataFrame): DataFrame =
    iv.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        col("valid_from_ms"), col("valid_to_ms"), col("event_type"),
        col("is_current"), col("n_events")))).as("ivs"))

  /** Create the zone: `events` (user_id, event_id, event_type, ms)
    * becomes epoch 1 of the raw chain and the full interval build
    * becomes the merge-on-read base. */
  def init(s: SparkSession, root: String, events: DataFrame): Unit = {
    appendEvents(s, root, events)
    MergeOnRead.init(s, ivRoot(root),
      pack(graft.ops.EventOps.scd2Of(events)))
  }

  /** The touched users' full raw history — the ONLY corpus read a
    * batch pays. Bucket pruning happens at the directory level
    * (`bucket` is a partition column; the `isin` list is ≤ Buckets
    * literals), then the semi-join trims to exactly the touched
    * users inside those buckets. */
  private[graft] def touchedEvents(s: SparkSession, root: String,
                                   users: DataFrame): DataFrame = {
    val buckets = users
      .select(pmod(col("user_id"), lit(Buckets)).as("b")).distinct()
      .collect().map(_.getLong(0)) // bounded: ≤ Buckets values
    s.read.option("basePath", eventsRoot(root))
      .parquet(eventsRoot(root))
      .where(col("bucket").isin(buckets.toIndexedSeq: _*))
      .join(users.select(col("user_id")), Seq("user_id"), "left_semi")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ms"))
  }

  /** Ingest one batch: append raw, recompute the touched users'
    * intervals from their full history, MERGE — O(touched), the
    * arrival order of batches is irrelevant by construction. */
  def applyBatch(s: SparkSession, root: String,
                 batch: DataFrame): Unit = {
    appendEvents(s, root, batch)
    val users = batch.select(col("user_id")).distinct()
    MergeOnRead.merge(s, ivRoot(root),
      pack(graft.ops.EventOps.scd2Of(touchedEvents(s, root, users))),
      Seq("user_id"))
  }

  /** Epoch-dir namespace offset for stream batches, so retried
    * foreachBatch ids can never collide with [[applyBatch]]'s
    * sequential epochs, which stay below it. */
  private val StreamEpochBase = 1000L

  /** [[applyBatch]] keyed by a CALLER-supplied batch id — the
    * foreachBatch retry contract. The raw-events epoch is the
    * idempotency marker and is committed LAST: a batch whose epoch
    * exists is skipped entirely (returns false); a crash after the
    * interval MERGE but before the commit makes the retry re-merge
    * the same rows, which converges (a later epoch re-asserting
    * identical values leaves the reconciled view unchanged). The
    * commit is staged, so a crash mid-write leaves a `.staging-` dir,
    * not a half-written epoch that would read as committed. So the
    * zone is exactly-once in effect under at-least-once delivery. */
  def applyBatchIdempotent(s: SparkSession, root: String,
                           batch: DataFrame, batchId: Long): Boolean = {
    val epoch = StreamEpochBase + batchId
    if (SwapPublish.listEpochs(s, eventsRoot(root)).contains(epoch)) false
    else {
      val b = batch.persist() // read twice: recompute + marker commit
      try {
        val users = b.select(col("user_id")).distinct()
        // touched history = committed zone events ∪ this (uncommitted)
        // batch — the batch is not in the chain until the marker lands
        val ev = touchedEvents(s, root, users)
          .unionByName(b.select(col("user_id"), col("event_id"),
            col("event_type"), col("ms")))
        MergeOnRead.merge(s, ivRoot(root),
          pack(graft.ops.EventOps.scd2Of(ev)), Seq("user_id"))
        commitEvents(b, root, epoch)
      } finally b.unpersist()
      true
    }
  }

  /** Drive the zone from a stream: every micro-batch folds through
    * [[applyBatchIdempotent]] under its batch id. */
  def streamApply(s: SparkSession, root: String,
                  stream: DataFrame, checkpoint: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        applyBatchIdempotent(s, root, df, id); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The reconciled interval view, unpacked back to one row per
    * interval — the exact q218 output contract. `asOf` = TRANSACTION
    * time travel (MergeOnRead epochs): the interval table as it was
    * known after that ingest epoch — which, combined with the
    * intervals' own valid-time columns, makes the zone BITEMPORAL
    * (q242). */
  def read(s: SparkSession, root: String,
           asOf: Long = Long.MaxValue): DataFrame =
    MergeOnRead.read(s, ivRoot(root), Seq("user_id"), asOf)
      .select(col("user_id"), explode(col("ivs")).as("iv"))
      .select(col("user_id"), col("iv.event_type").as("event_type"),
        col("iv.valid_from_ms").as("valid_from_ms"),
        col("iv.valid_to_ms").as("valid_to_ms"),
        col("iv.is_current").as("is_current"),
        col("iv.n_events").as("n_events"))
      // same tie-break as scd2Of / the oracle template: same-ms
      // adjacent islands must sort identically in both engines
      .orderBy(col("user_id"), col("valid_from_ms"), col("event_type"),
        coalesce(col("valid_to_ms"), lit(-1L)), col("n_events"))
}
