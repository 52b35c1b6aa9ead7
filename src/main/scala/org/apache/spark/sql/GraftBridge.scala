package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway a third-party operator library needs:
  * wrap a custom [[LogicalPlan]] node back into a user-facing
  * [[DataFrame]]. Lives in the `org.apache.spark.sql` package for
  * access, contains no logic, and touches nothing else — the standard
  * extension-library bridge pattern. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a catalyst Expression as a user-facing Column (and back) —
    * lets library code build native-expression Columns
    * ([[graft.functions.Md5Prefix60]]) without a FunctionRegistry
    * round-trip, so callers need no session-level registration. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Eagerly free the blocks behind a `localCheckpoint()`ed Dataset.
    * `Dataset.unpersist` is a no-op for these — it goes through the
    * CacheManager, but localCheckpoint persists at the RDD level and
    * never registers there; without this, every iteration of a
    * checkpointed loop leaves its blocks pinned until GC +
    * ContextCleaner. Reaches the underlying RDD via the analyzed
    * `LogicalRDD` node (why this file lives in `org.apache.spark.sql`). */
  def unpersistLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Free a superseded checkpoint in EITHER mode: unpersist the
    * RDD-level blocks (local checkpoint), and delete the checkpoint
    * files (reliable checkpoint) — Spark cleans those only via the
    * ContextCleaner with `spark.cleaner.referenceTracking
    * .cleanCheckpoints=true`, so a 40-round iterative loop would
    * otherwise leave 40 full copies of its state on the checkpoint
    * store. Callers free round N's state only after round N+1 is
    * eagerly materialized, so nothing re-reads the deleted files. */
  /** Drain the shared listener bus — QueryExecutionListener delivery
    * is asynchronous, so a harness that reads listener-accumulated
    * state right after an action (the Probe sweep's per-query overcap
    * metrics) must flush first or it races the delivery thread. */
  def waitListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  def freeCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        if (lr.rdd.getCheckpointFile.isDefined)
          org.apache.spark.rdd.ReliableRDDCheckpointData
            .cleanCheckpoint(lr.rdd.sparkContext, lr.rdd.id)
      case _ => ()
    }
}
