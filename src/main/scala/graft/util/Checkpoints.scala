package graft.util

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** The materialization policy. A relation derived once and read many
  * times is spelled one of three ways, each with one owner:
  *  - a cross-query zone, [[Scratch.memo]]/[[Scratch.memoZone]], with
  *    one defining def per memo name ([[Tokens.spanTokens]]);
  *  - an in-query root, [[root]]: a relation several branches or
  *    rounds of one query read, and every loop round of [[iterate]]
  *    (CC enters through [[iterateAbove]] and runs rounds only above
  *    its driver bound);
  *  - a per-batch root, [[scoped]], freed when the batch returns.
  *
  * Each loop round must root a fresh plan — otherwise round N's plan
  * nests every prior round's and optimizer time grows super-linearly
  * — but HOW a root is kept is a deployment decision:
  *  - `localCheckpoint()` (the default): executor-memory/disk blocks,
  *    fastest, but blocks die with their executor — on a preemptible
  *    cluster that kills a 40-round job near the end with no way to
  *    recompute (the lineage was truncated);
  *  - reliable `checkpoint()`: writes to the fault-tolerant checkpoint
  *    store (HDFS/S3), survives executor loss.
  *
  * Set the session conf [[Checkpoints.DirKey]] (`graft.checkpoint.dir`)
  * to a durable path to flip every root to reliable mode — same code,
  * no call-site changes. Superseded rounds and finished batches are
  * freed in either mode
  * ([[org.apache.spark.sql.GraftBridge.freeCheckpoint]]): blocks
  * unpersisted, reliable checkpoint files deleted.
  *
  * The unrolled loops (PageRank, PPR, TextRank, Markov, the graph
  * walk, the k-means and PQ folds) root nothing per round: a per-round
  * root measured as pure job-barrier overhead (r14 TextRank A/B, r15
  * Markov probe).
  */
object Checkpoints {

  /** Session conf key: a durable directory (HDFS/S3/local path) ⇒
    * loops use reliable `checkpoint()`; unset ⇒ `localCheckpoint()`. */
  val DirKey = "graft.checkpoint.dir"

  /** Root `df` in a fresh plan, reliable or local per the [[DirKey]]
    * conf, materialized now (`eager`) or by the first job that reads
    * it; unset, this IS `df.localCheckpoint(eager)`. Not every cache
    * is a root: the streaming batch bodies, `Scd2Maintain` and
    * `CorpusStats`' suffix sort keep `persist()` … `finally
    * unpersist()`, a lazy cache its first consumer fills; an eager
    * root would add a job and change the cache format, which needs
    * its own A/B. */
  def root(df: DataFrame, eager: Boolean = true): DataFrame =
    df.sparkSession.conf.getOption(DirKey) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // align the context's checkpoint dir with the conf (idempotent;
        // re-pointing is legal and only affects NEW checkpoints).
        // Exact prefix match on the normalized path — a substring test
        // would silently ignore a re-point from /mnt/ckpt to /mnt/ck
        val normalized = new org.apache.hadoop.fs.Path(dir).toUri.getPath
        val current = sc.getCheckpointDir
          .map(d => new org.apache.hadoop.fs.Path(d).toUri.getPath)
        if (!current.exists(c => c == normalized ||
            c.startsWith(normalized + "/")))
          sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }

  /** Free a superseded round's checkpoint (blocks and/or files). Only
    * call after the NEXT round is eagerly materialized. */
  def free(df: Dataset[_]): Unit =
    org.apache.spark.sql.GraftBridge.freeCheckpoint(df)

  /** Run `f` with a [[root]] that [[free]]s every root it took when
    * `f` returns or throws — under the dial a maintenance batch would
    * otherwise leave its checkpoint files on the store for good. `f`
    * must finish every job over its roots and return nothing lazy. */
  def scoped[T](f: (DataFrame => DataFrame) => T): T = {
    val taken = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try f { df => val r = root(df); taken += r; r }
    finally taken.foreach(free)
  }

  /** How a loop stops: after exactly `n` rounds (fewer if the step
    * ends it), uncounted; or once a round's count equals its
    * predecessor's and `confirm(prev, next)` holds, failing LOUDLY
    * past `cap` rounds rather than return a partial fixpoint. */
  sealed trait Stop
  final case class Rounds(n: Int) extends Stop
  final case class UntilStable(cap: Int,
      confirm: (DataFrame, DataFrame) => Boolean = (_, _) => true)
    extends Stop

  /** A round's width: the session's, under session AQE (the gate lost
    * time on bfs and HITS in r15); [[partsForRows]] of each round's
    * count (CC); or one the call site sized (k-core's fixed edge set).
    * A sized width of 1 runs the round's materialization AQE-off. */
  sealed trait Width
  case object SessionWidth extends Width
  case object RoundWidth extends Width
  final case class FixedWidth(parts: Int) extends Width

  /** ≈2M narrow (id-pair-class) rows ≈ 100 MB of shuffle per round
    * partition, guide §2.2's reduce-partition target (r15). Sized from
    * the round, not the session width: a gate-scale graph otherwise
    * pays numShufflePartitions empty tasks per phase per round
    * (measured ~1.0 s/round at sf0.1 on 2,658 edges). */
  private val RowsPerRoundPartition = 2000000L

  /** Round width from a row count: ⌈rows / 2M⌉ capped at the session
    * shuffle width — 1 at gate scale, the session default at 100 TB. */
  def partsForRows(s: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      s.sessionState.conf.numShufflePartitions.toLong,
      (rows + RowsPerRoundPartition - 1) / RowsPerRoundPartition)).toInt

  /** Run `f` with AQE off when `off` — for single-partition round
    * materializations only, where AQE has nothing to coalesce or
    * skew-split and each exchange otherwise pays a query-stage
    * re-optimization pause (the CC gate, r14-judged real; a blanket
    * session flip probed a LOSS). */
  private def withAqeOff[T](s: SparkSession, off: Boolean)(f: => T): T =
    if (!off) f
    else {
      val k = "spark.sql.adaptive.enabled"
      val prev = s.conf.get(k)
      s.conf.set(k, "false")
      try f finally s.conf.set(k, prev)
    }

  /** Run a round-materializing loop from `init`: each round `step`
    * maps the rooted state and the round width to the next state's
    * plan, or None to end the loop. This alone owns a round's policy:
    * it [[root]]s each state (the dial), [[free]]s the superseded one
    * only after the next is materialized, threads one count per round
    * where [[UntilStable]] or [[RoundWidth]] needs it, and gates AQE
    * around the step and its materialization only — the count and the
    * confirming test stay under session AQE (an AQE-off except
    * measured a 0.3-0.5 s loss per CC loop). Returns the final state,
    * rooted and owned by the caller; `keep = false` frees it too (an
    * answer built on the driver, BPE's merge table). */
  def iterate(name: String, init: DataFrame, stop: Stop,
              width: Width = SessionWidth, keep: Boolean = true)
             (step: (DataFrame, Int) => Option[DataFrame]): DataFrame = {
    val first = root(init)
    rounds(name, first, if (counted(stop, width)) rowCount(first) else -1L,
      stop, width, keep)(step)
  }

  private def counted(stop: Stop, width: Width): Boolean =
    stop.isInstanceOf[UntilStable] || width == RoundWidth

  /** A rooted state's row count in one job over its blocks:
    * `Dataset.count()` plans an aggregate with an exchange over the
    * root, which AQE runs as two jobs and two stages. */
  private def rowCount(rooted: DataFrame): Long =
    rooted.queryExecution.toRdd.count()

  /** [[iterate]] behind a driver bound: roots `init` once and counts
    * it. At most `bound` rows ⇒ the rows are collected, the root is
    * freed and no round runs (Left: the caller finishes on the
    * driver). Above ⇒ Right: the loop's final state, continuing from
    * that same root and count. The root is lazy and the count is its
    * materialization: one job counts every partition and ships its
    * rows while they fit its share of the bound. The shares sum to at
    * most `bound`, so the driver never holds more, and the job stands
    * in for the loop's eager root and first count. A partition past
    * its share (a skewed small input) is read by one more collect; a
    * `take(bound + 1)` would scan partitions in a data-dependent
    * number of jobs. */
  def iterateAbove(name: String, init: DataFrame, bound: Long, stop: Stop,
                   width: Width = SessionWidth)
                  (step: (DataFrame, Int) => Option[DataFrame])
      : Either[Array[Row], DataFrame] = {
    val first = root(init, eager = false)
    val share = bound / math.max(1, first.rdd.getNumPartitions)
    val parts = first.rdd.mapPartitions { it =>
      val fits = Array.newBuilder[Row]
      var n = 0L
      it.foreach { r => n += 1; if (n <= share) fits += r }
      Iterator((n, if (n <= share) Some(fits.result()) else None))
    }.collect()
    val rows = parts.map(_._1).sum
    if (rows > bound) Right(rounds(name, first, rows, stop, width, keep = true)(step))
    else {
      val local =
        if (parts.forall(_._2.isDefined)) parts.flatMap(_._2.get)
        else first.collect()
      free(first)
      Left(local)
    }
  }

  /** The loop itself, from a rooted `first` state and its count. */
  private def rounds(name: String, first: DataFrame, firstRows: Long,
                     stop: Stop, width: Width, keep: Boolean)
                    (step: (DataFrame, Int) => Option[DataFrame]): DataFrame = {
    val s = first.sparkSession
    def count(df: DataFrame): Long =
      if (counted(stop, width)) rowCount(df) else -1L

    @annotation.tailrec
    def loop(cur: DataFrame, rows: Long, round: Int): DataFrame = {
      val done = stop match {
        case Rounds(n) => round == n
        case UntilStable(cap, _) =>
          if (round == cap) sys.error(s"$name: not stable after $cap rounds")
          false
      }
      val parts = width match {
        case SessionWidth => s.sessionState.conf.numShufflePartitions
        case RoundWidth => partsForRows(s, rows)
        case FixedWidth(p) => p
      }
      if (done) cur
      else withAqeOff(s, width != SessionWidth && parts == 1) {
        step(cur, parts).map(root(_))
      } match {
        case None => cur
        case Some(nx) =>
          val n = count(nx)
          val stable = stop match {
            case UntilStable(_, confirm) => n == rows && confirm(cur, nx)
            case _ => false
          }
          free(cur)
          if (stable) nx else loop(nx, n, round + 1)
      }
    }

    val last = loop(first, firstRows, 0)
    if (!keep) free(last)
    last
  }
}
