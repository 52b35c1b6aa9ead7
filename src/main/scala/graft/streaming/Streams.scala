package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

/** Structured Streaming surface: the streaming upgrade of the
  * reference's file-delivery semantics (SURVEY.md §2.7 — NiFi's
  * FlowFile queue is a micro-batch file pickup; `readStream` over a
  * directory IS that, with exactly-once bookkeeping instead of
  * queue-drain polling).
  *
  * Each batch operator in [[graft.ops.EventOps]] has its streaming
  * mirror here: tumbling windows ≙ q60, session windows ≙ q61.
  * State stores are keyed by (window/session, keys) — at cluster scale
  * the shuffle partitions the state by key, and the watermark bounds
  * state size (late data beyond it is dropped deterministically).
  */
object Streams {

  /** File-source ingest: watch `inDir` for new files (the NiFi pickup
    * replacement). Explicit schema — streaming sources never infer. */
  def fileStream(spark: SparkSession, inDir: String, schema: StructType,
                 format: String = "json"): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", "64") // bounded micro-batches
      .load(inDir)

  /** Tumbling event-time window counts with a watermark (streaming q60).
    * Watermark = allowed lateness; state for closed windows is evicted. */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_value"))

  /** Gap-based session windows per user (streaming q61) — built-in
    * session_window keeps per-key state until the gap closes. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup: drop events whose `event_id` was already
    * seen within the watermark horizon — the streaming mirror of
    * q34/q35. State is keyed by event_id and evicted past the
    * watermark, so memory is bounded by (rate × lateness), not by
    * stream history. */
  def dedupStream(events: DataFrame,
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      // id-ONLY key: a replayed event re-stamped with a different ts
      // must still dedup; dropDuplicatesWithinWatermark keeps state
      // evictable without ts in the key.
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: purchases enriched with the user's
    * clicks in the preceding 10 minutes (the streaming mirror of the
    * q63 range join). Both sides watermarked; the range condition
    * bounds join state retention on each side. */
  def purchaseClickJoin(events: DataFrame,
                        watermark: String = "30 minutes"): DataFrame = {
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"))
  }

  /** Stream-stream LEFT OUTER join: like [[purchaseClickJoin]], but a
    * purchase with NO click in its window still emits — with null
    * click columns — once the click-side watermark has passed the
    * purchase's match window, i.e. once no future click could still
    * match. That deferred null emission is the semantic heart of
    * streaming outer joins: the row is held in state exactly as long
    * as a match remains possible, then released. State on both sides
    * stays bounded by the same watermark + range condition as the
    * inner variant. */
  def purchaseClickJoinOuter(events: DataFrame,
                             watermark: String = "30 minutes"): DataFrame = {
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "leftOuter")
  }

  /** Stream-static enrichment join: each micro-batch of the stream
    * broadcast-joins the (small) static dimension — no streaming state
    * at all, the dimension is re-resolved per batch so a dimension
    * refresh is picked up without restarting the query. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), "left")

  /** Custom keyed state via flatMapGroupsWithState: per-user running
    * totals emitted on every update, optionally expiring idle users'
    * state with a final tombstone row — the hand-rolled state machine
    * that session_window/aggregations can't express.
    *
    * State is (count, sum); output rows are (user_id, n, sum, closed).
    * At scale state is hash-partitioned by key in the state store and,
    * with a timeout set, bounded by it — idle keys are reaped.
    * `idleTimeout = None` (NoTimeout) is the replayable/batch-drain
    * mode: a processing-time timer keeps an AvailableNow drain alive
    * waiting for wall-clock expiry, so pair timeouts with a continuous
    * trigger only. */
  def runningTotalsWithTimeout(events: DataFrame,
                               idleTimeout: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val conf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
               else GroupStateTimeout.NoTimeout
    val typed = events.select(col("user_id"), col("value")).as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double, Boolean)](
        OutputMode.Append, conf) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, sum) = state.get
            state.remove()
            Iterator((user, n, sum, true)) // tombstone: key went idle
          } else {
            val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
            val batch = rows.toSeq
            val n = n0 + batch.size
            val sum = s0 + batch.map(_._2).sum
            state.update((n, sum))
            idleTimeout.foreach(state.setTimeoutDuration)
            Iterator((user, n, sum, false))
          }
      }
      .toDF("user_id", "n", "sum", "closed")
  }

  /** Streaming NEAR-dup detection — the cross-batch LSH filter a
    * continuously-ingesting corpus needs: a doc arriving today that
    * near-duplicates one ingested last week is flagged the moment it
    * lands, which no batch dedup pass over the increment can do.
    * Exact streaming dedup ([[dedupStream]]) only catches identical
    * payloads; this catches edited ones.
    *
    * Map-side per doc: whitespace tokens → distinct 3-shingles →
    * xxhash64 → 32 permuted minima (pure array HOFs — no explode-agg,
    * so the signature needs NO stateful aggregation) → 8 bands of 4.
    * State: one entry per LSH bucket (band, band-slice hash) holding
    * up to `bucketCap` (doc_id, signature) members; each arriving doc
    * emits a row per stored member whose signature agreement ≥
    * `threshold`, then joins the bucket. At scale the state store is
    * hash-partitioned by bucket key, and `bucketCap` bounds both
    * memory and per-arrival compare work exactly like the batch
    * star+chain cap — a boilerplate bucket degrades recall, never
    * blows up. The cap bounds PER-BUCKET memory; total state grows
    * with the number of distinct buckets (≈ bands × distinct band
    * slices seen), so a continuous deployment sets `idleTimeout` to
    * reap buckets no arrival has touched within the horizon —
    * trading cross-batch recall beyond the horizon for bounded state,
    * the same deal every watermarked operator makes. `None` (the
    * AvailableNow/test drain mode — a processing-time timer would
    * keep the drain alive) means no eviction. A re-arrival of an
    * already-stored doc_id REFRESHES its stored signature (content
    * may have changed) and emits pairs against the other members
    * only. Emitted pairs are per-bucket candidates: downstream
    * dedups (a doc matching in several bands repeats) — kept append-
    * mode simple here rather than chaining a second stateful op.
    * LSH geometry is [[graft.dedup.Dedup.LshBands]]/
    * [[graft.dedup.Dedup.LshRows]] — the same constants as the batch
    * q37 pipeline this mirrors, so the two can never drift. */
  def nearDupStream(docs: DataFrame, threshold: Double = 0.5,
                    bucketCap: Int = 64,
                    idleTimeout: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import graft.dedup.{Dedup, XxHash64}
    import graft.util.Tokens
    val spark = docs.sparkSession
    import spark.implicits._
    val perms = Dedup.MinhashPerms
    val sigCols = array((0 until perms).map(i =>
      array_min(transform(col("hs"), h => XxHash64.perm(h, i)))): _*)
    val bucketExpr = XxHash64.bandKeySql(
      s"slice(sig, b * ${Dedup.LshRows} + 1, ${Dedup.LshRows})")
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val banded = docs
      // nulls are data, not poison: a null doc_id/text would throw in
      // the non-nullable tuple decode below and — being replayed from
      // the checkpoint — kill the query permanently. Route such rows
      // through the dead-letter pattern upstream; here they are
      // dropped from the near-dup path.
      .where(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), Tokens.whitespace(col("text")).as("w"))
      .select(col("doc_id"),
        transform(array_distinct(Tokens.ngramsOf(col("w"), 3)),
          s => xxhash64(s)).as("hs"))
      .select(col("doc_id"), sigCols.as("sig"))
      .select(col("doc_id"), col("sig"), posexplode(expr(
        s"transform(sequence(0, ${Dedup.LshBands - 1}), b -> $bucketExpr)"))
        .as(Seq("band", "bucket")))
    banded.as[(Long, Seq[Long], Int, Long)]
      .groupByKey { case (_, _, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState[List[(Long, Seq[Long])],
        (Long, Long, Double, Int)](
        OutputMode.Append, timeoutConf) {
        (_: (Int, Long), rows: Iterator[(Long, Seq[Long], Int, Long)],
         state: GroupState[List[(Long, Seq[Long])]]) =>
          if (state.hasTimedOut) {
            state.remove() // idle bucket reaped; no output
            Iterator.empty
          } else {
            var members = state.getOption.getOrElse(Nil)
            val out = List.newBuilder[(Long, Long, Double, Int)]
            rows.foreach { case (docId, sig, band, _) =>
              members.foreach { case (prevId, prevSig) =>
                if (prevId != docId) {
                  val agree = sig.iterator.zip(prevSig.iterator)
                    .count { case (a, b) => a == b }
                  val estJ = agree.toDouble / sig.length
                  if (estJ >= threshold) out += ((docId, prevId, estJ, band))
                }
              }
              if (members.exists(_._1 == docId))
                // same id re-ingested: refresh the stored signature
                members = (docId, sig) :: members.filterNot(_._1 == docId)
              else if (members.size < bucketCap)
                members = (docId, sig) :: members
            }
            state.update(members)
            idleTimeout.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
      .toDF("doc_id", "dup_of", "est_jaccard", "band")
  }

  /** Dead-letter ingest source: parse a file stream PERMISSIVEly,
    * carrying unparseable payloads in `corruptCol` instead of failing
    * the query — one malformed line in 100 TB of feed must quarantine,
    * not kill the pipeline. Pair with [[runWithDeadLetter]]. */
  def deadLetterStream(spark: SparkSession, inDir: String,
                       schema: StructType, format: String = "json",
                       corruptCol: String = "_corrupt_record"): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema.add(corruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .option("maxFilesPerTrigger", "64")
      .load(inDir)

  /** Split each micro-batch into the main sink (parsed rows) and a
    * quarantine sink (raw corrupt payload + batch id for lineage).
    * The batch is cached once and filtered twice — also required by
    * Spark's corrupt-record rule (a query must not select ONLY the
    * corrupt column from an uncached scan). Both writes are per-batch
    * appends under the one checkpoint, so a replayed batch re-appends
    * deterministically. */
  def runWithDeadLetter(parsed: DataFrame, goodDir: String, badDir: String,
                        checkpointDir: String,
                        corruptCol: String = "_corrupt_record"): Unit = {
    val q = parsed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          batch.where(col(corruptCol).isNull).drop(corruptCol)
            .write.mode("append").parquet(goodDir)
          batch.where(col(corruptCol).isNotNull)
            .select(col(corruptCol).as("raw_payload"),
              lit(batchId).as("batch_id"))
            .write.mode("append").parquet(badDir)
        } finally batch.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run a streaming query into an in-memory table until all currently
    * available input is processed (test/demo harness; production sinks
    * are parquet/kafka `writeStream`). */
  def runToMemory(df: DataFrame, name: String,
                  outputMode: OutputMode = OutputMode.Update): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Rate-limited file ingest — the BACKPRESSURE dial. Identical to
    * [[fileStream]] but with the per-trigger admission bounds exposed:
    * `maxFilesPerTrigger` caps how many files one micro-batch admits
    * (and, under `Trigger.AvailableNow`, a backlog drains as a SERIES
    * of bounded batches instead of one giant one). This is what keeps
    * a replay-from-zero or a burst of late files from flooding the
    * state stores and sinks: state memory and shuffle size per batch
    * stay proportional to the dial, not to the backlog. At cluster
    * scale the same contract is `maxOffsetsPerTrigger` (Kafka) /
    * `maxBytesPerTrigger` (file size–based) — same admission-control
    * semantics, different unit. */
  def rateLimitedStream(spark: SparkSession, inDir: String,
                        schema: StructType, maxFilesPerTrigger: Int,
                        format: String = "json"): DataFrame = {
    require(maxFilesPerTrigger > 0, "maxFilesPerTrigger must be positive")
    spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(inDir)
  }

  /** Streaming heavy hitters — the q133 Misra-Gries sketch maintained
    * ACROSS micro-batches per source: each batch's tokens fold into
    * the keyed state through the same `reduce`/`merge` the batch
    * Aggregator runs, so the no-false-negative guarantee (any token
    * above the 1/(k+1) mass threshold is in the sketch) holds over
    * the WHOLE stream, not per batch — the continuously-maintained
    * "what is flooding this source" monitor. State per key is the
    * bounded k-entry map; each batch emits the source's current
    * sketch contents.
    *
    * Tokenization mirrors [[graft.util.Tokens.whitespace]]'s class
    * exactly (the cross-engine discipline, applied JVM-side). */
  def heavyHittersStream(docs: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = docs.sparkSession
    import spark.implicits._
    val mg = new graft.functions.MisraGries(k)
    val typed = docs.select(col("source"), col("text"))
      .as[(String, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long], (String, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(String, String)],
         state: GroupState[Map[String, Long]]) =>
          val batch = rows.foldLeft(mg.zero) { (b, r) =>
            // null-text documents exist in the corpus (the batch
            // operators coalesce for exactly this); an NPE here
            // kills the whole streaming query
            Option(r._2).getOrElse("").trim
              .split("[ \\t\\n\\x0B\\f\\r]+")
              .foldLeft(b)((bb, t) => mg.reduce(bb, (t, 1L)))
          }
          val merged = mg.merge(state.getOption.getOrElse(mg.zero), batch)
          state.update(merged)
          merged.toSeq.sortBy { case (t, w) => (-w, t) }
            .iterator.map { case (t, w) => (src, t, w) }
      }
      .toDF("source", "token", "weight")
  }

  /** Streaming distinct-cardinality monitor — the q179 HyperLogLog
    * registers maintained ACROSS micro-batches per source: each
    * batch's 3-gram shingle hashes fold into the keyed 64-register
    * state by elementwise max — EXACTLY the HLL merge, so the
    * stream-final sketch is bit-identical to the batch q179 sketch
    * over the same documents regardless of how the stream was
    * split into batches (asserted in StreamsSpec). State per key is
    * 64 longs, forever; each batch emits the source's current
    * (n_regs_hit, z_scaled, est_distinct) in the q179 derivation.
    *
    * Shingling/hashing mirrors the batch operator exactly:
    * [[graft.util.Tokens.whitespace]]'s split class, 3-grams joined
    * by single spaces, [[graft.functions.Md5Prefix60]] over UTF-8
    * bytes — the cross-engine/cross-mode discipline. */
  def hllDistinctStream(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = docs.sparkSession
    import spark.implicits._
    val m = 64
    def fold(regs: Array[Long], text: String): Array[Long] = {
      // EXACT mirror of Tokens.whitespace: Spark SQL `trim` strips
      // the space character only (Java's String#trim strips all
      // ≤ U+0020 — a drift the gate would catch), and Spark `split`
      // runs with limit −1 (trailing empties preserved)
      val t = Option(text).getOrElse("")
        .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val w = t.split("[ \\t\\n\\x0B\\f\\r]+", -1)
      if (w.length >= 3) {
        var i = 0
        while (i <= w.length - 3) {
          val h = graft.functions.Md5Prefix60.hash(
            s"${w(i)} ${w(i + 1)} ${w(i + 2)}"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val reg = (h % m).toInt
          val pay = h >>> 6
          val rank =
            if (pay == 0L) 55L
            else 55L - (64 - java.lang.Long.numberOfLeadingZeros(pay))
          if (rank > regs(reg)) regs(reg) = rank
          i += 1
        }
      }
      regs
    }
    docs.select(col("source"), col("text")).as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (String, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(String, String)],
         state: GroupState[Array[Long]]) =>
          val regs = rows.foldLeft(
            state.getOption.getOrElse(Array.fill(m)(0L))) {
            (r, row) => fold(r, row._2)
          }
          state.update(regs)
          val hit = regs.count(_ > 0L).toLong
          val z = regs.map(r => 1L << (55 - r)).sum
          val est = 0.709 * (m.toLong * m).toDouble *
            (1L << 55).toDouble / z.toDouble
          Iterator.single((src, hit, z, est))
      }
      .toDF("source", "n_regs_hit", "z_scaled", "est_distinct")
  }

  /** Streaming blocklist admission — the q157 bloom scrub applied at
    * ingest time: the (static, batch-built) blocklist folds into the
    * 128-word bloom array ONCE on the driver and rides into the
    * stream as a literal/broadcast constant, so per-micro-batch
    * admission is pure map-side column math (3 shifts + 3 array
    * reads per document, no stream-static join, no state store).
    * Same spelling as the batch probe ([[graft.ops.Blocklist
    * .hitColumn]]), so batch and stream can never disagree on what
    * is blocked; no false negatives is structural. A production
    * deployment refreshes the array by restarting the query with the
    * re-built constant — the blocklist is slow-moving by nature.
    *
    * Output adds `bloom_hit` (route to quarantine + exact check) and
    * `admitted`. */
  /** Streaming ORDERED funnel — the q227 mirror: per-user keyed state
    * machine tracking view → click → purchase with per-step deadlines
    * (`windowMs` from the previous step), EXACT under out-of-order
    * delivery. The batch parse is greedy-earliest (t1 = min view,
    * t2 = min click in [t1, t1+w], t3 = min purchase in [t2, t2+w]),
    * so late data can only move step times EARLIER — t1 is monotone
    * non-increasing, hence t2 and t3 are too. That monotonicity is
    * what bounds the state: a click > t1+w or a purchase > t2+w can
    * never qualify later (the windows only move left), so candidates
    * are pruned against the CURRENT bounds and the retained state is
    * the in-window step candidates only. Candidates that precede the
    * first view (or first qualifying click) are retained — an earlier
    * view arriving late can still pull them into the window — but
    * only up to `horizonMs`, when set: with an out-of-orderness bound
    * H, the stream carries `withWatermark(H)` and every update prunes
    * candidates no FUTURE arrival (all ≥ the event-time watermark)
    * could ever qualify: a click below the watermark and outside the
    * current view window is dead (any future view starts ≥ watermark,
    * after it); a purchase below both the watermark and every
    * retained click is dead for the same reason. Users with no view
    * yet also get an event-time state timeout at their newest
    * candidate — once the watermark passes it, every candidate is
    * dead and the state is removed, so viewless/abandoned keys cannot
    * accumulate. `horizonMs = None` (default) is the replayable
    * batch-drain mode with no eviction — exact for arbitrarily late
    * data, state bounded only per the monotone rule above.
    *
    * Emits the user's current funnel row on every update, tagged with
    * a per-user update sequence (`upd`) so a drain's FINAL row per
    * user is identifiable; StreamsSpec pins that final state ≡
    * [[graft.ops.EventOps.orderedFunnelOf]] over the same events for
    * out-of-order batch splits. State is hash-partitioned by user in
    * the state store at scale. */
  def funnelStream(events: DataFrame,
                   windowMs: Long = 1800000L,
                   horizonMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val src = horizonMs match {
      case Some(h) => events.withWatermark("ts", s"$h milliseconds")
      case None => events
    }
    // the watermarked `ts` column must SURVIVE the projection —
    // event-time timeout requires the eventTime tag to reach the
    // stateful operator, and selecting only derived columns drops it
    val typed = src
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("ts"))
      .as[(Long, String, Long, java.sql.Timestamp)]
    val timeoutConf =
      if (horizonMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[
        (Option[Long], List[Long], List[Long], Long),
        (Long, Long, Option[Long], Option[Long], Long, Long)](
        OutputMode.Append, timeoutConf) {
        (user: Long,
         rows: Iterator[(Long, String, Long, java.sql.Timestamp)],
         state: GroupState[(Option[Long], List[Long], List[Long], Long)]) =>
          val (v0, c0, p0, upd0) = state.getOption
            .getOrElse((Option.empty[Long], List.empty[Long],
              List.empty[Long], 0L))
          var t1 = v0
          var clicks = c0
          var purchases = p0
          rows.foreach { case (_, et, ms, _) =>
            et match {
              case "view" => if (t1.forall(ms < _)) t1 = Some(ms)
              case "click" => clicks ::= ms
              case "purchase" => purchases ::= ms
              case _ => ()
            }
          }
          // prune against the current (monotone non-increasing)
          // bounds, then derive the greedy step times
          val t2 = t1.flatMap { a =>
            clicks = clicks.filter(_ <= a + windowMs)
            clicks.filter(_ >= a).minOption
          }
          val t3 = t2.flatMap { b =>
            purchases = purchases.filter(_ <= b + windowMs)
            purchases.filter(_ >= b).minOption
          }
          // horizon eviction: every FUTURE arrival has event time ≥ the
          // watermark, so a candidate only a pre-watermark view (or
          // pre-watermark qualifying click) could rescue is dead state
          if (horizonMs.isDefined) {
            val wm = state.getCurrentWatermarkMs()
            // a click qualifies under some future t1' ≤ click ≤ t1'+w;
            // future views are ≥ wm, so a click < wm needs the CURRENT
            // window — outside it, evict
            clicks = clicks.filter(c =>
              c >= wm || t1.exists(a => c >= a && c <= a + windowMs))
            // a purchase qualifies under some future t2' (a click time)
            // ≤ p ≤ t2'+w; future qualifying clicks are ≥ min(retained
            // clicks, wm) — below that and outside the current t2
            // window, evict
            val minClick = clicks.minOption.getOrElse(Long.MaxValue)
            purchases = purchases.filter(p =>
              p >= math.min(wm, minClick) ||
                t2.exists(b => p >= b && p <= b + windowMs))
          }
          if (t1.isEmpty && clicks.isEmpty && purchases.isEmpty
              && horizonMs.isDefined) {
            // nothing a future arrival could attach to — drop the key
            state.remove()
            Iterator.empty
          } else {
            val upd = upd0 + 1
            state.update((t1, clicks, purchases, upd))
            if (horizonMs.isDefined && t1.isEmpty) {
              // viewless user: all candidates die once the watermark
              // passes the newest one — time the state out there so
              // abandoned keys are reclaimed without a view ever coming
              val newest = (clicks ++ purchases).max
              state.setTimeoutTimestamp(newest + 1)
            }
            t1 match {
              case Some(a) =>
                val reached =
                  if (t3.isDefined) 3L else if (t2.isDefined) 2L else 1L
                Iterator((user, a, t2, t3, reached, upd))
              case None => Iterator.empty // no view yet → no funnel row
            }
          }
      }
      .toDF("user_id", "t1", "t2", "t3", "reached", "upd")
  }

  /** Streaming first-order transition extraction — the live twin of
    * [[graft.ops.EventOps.transitionMatrix]]/markovStationary's cell
    * derivation: per user, every consecutive event-type pair is
    * emitted as a (from_type, to_type) row the moment its successor
    * arrives; a downstream rollup keeps the live transition counts
    * (counts are additive, so the aggregation is the trivially
    * incremental part). State per user is ONE (ms, event_id, type)
    * triple — constant, never a buffer.
    *
    * Ordering contract: per-user IN-ORDER delivery (what a
    * user-keyed Kafka topic partition guarantees and what the spec
    * feeds); rows inside a micro-batch are sorted by (ms, event_id)
    * before pairing, so batch-boundary placement is immaterial —
    * StreamsSpec proves k-batch splits ≡ the batch window spelling.
    * A fully out-of-order feed needs the batch operator (windows
    * re-sort globally); this is the same contract split as
    * funnelStream's monotone parse vs q227's batch sort. */
  def transitionStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .as[(Long, Long, String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String),
        (Long, String, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, String, Long)],
         state: GroupState[(Long, Long, String)]) =>
          val ordered = rows.toSeq.sortBy(r => (r._4, r._2))
          var last = state.getOption
          val out = ordered.flatMap { case (_, id, et, ms) =>
            val pair = last.map { case (_, _, prevType) =>
              (user, prevType, et, ms)
            }
            last = Some((ms, id, et))
            pair
          }
          last.foreach(state.update)
          out.iterator
      }
      .toDF("user_id", "from_type", "to_type", "ms")
  }

  /** Streaming cohort retention — the q128 mirror: per-user keyed
    * state holds (cohort day, distinct activity days) and every
    * update re-emits the user's CURRENT retention rows tagged with a
    * per-user update sequence (`upd`) — the funnelStream final-wins
    * discipline, EXACT under out-of-order delivery: a late EARLIER
    * day rebases the cohort and the re-emission retracts every stale
    * offset implicitly (the drain's final row set per user is the
    * truth; StreamsSpec aggregates it and pins ≡
    * [[graft.ops.EventOps.retention]]).
    *
    * State per user is the distinct-day set — bounded by the DATE
    * RANGE (days, not events: a 3-year product history is ~1100
    * ints), never corpus-sized. A production deployment that must
    * also bound the day range adds the funnelStream `horizonMs`
    * pattern (watermark + event-time timeout); retention windows are
    * finite by definition (day-N charts stop at N), so the natural
    * horizon is the chart's own N. */
  def retentionStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
      .as[(Long, Int)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(List[Int], Long),
        (Long, String, Int, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Int)],
         state: GroupState[(List[Int], Long)]) =>
          val (d0, upd0) = state.getOption.getOrElse((List.empty[Int], 0L))
          val days = (d0 ++ rows.map(_._2)).distinct.sorted
          val upd = upd0 + 1
          state.update((days, upd))
          val cohort = days.head
          val cohortStr = java.time.LocalDate.ofEpochDay(cohort.toLong)
            .toString
          days.iterator.map(d => (user, cohortStr, d - cohort, upd))
      }
      .toDF("user_id", "cohort_day", "day_offset", "upd")
  }

  /** Streaming time-decay attribution — the q258 mirror: per-user
    * keyed state holds the click and purchase event lists and every
    * update re-emits the user's CURRENT credit table (every purchase
    * × its in-window clicks, the exact q258 integer weights
    * `1 << (23 − hours_ago)` and ONE final double division), tagged
    * with the per-user `upd` sequence. Final-wins under out-of-order
    * delivery: a late click inside an existing purchase's 24 h
    * window changes that purchase's normalizer, and the re-emission
    * carries the corrected credits for every affected pair
    * (StreamsSpec pins the drained final table ≡
    * [[graft.ops.EventOps.decayAttribution]] for k-batch splits).
    *
    * State per user is its click+purchase history — the replayable
    * mode. A deployment bounds it exactly like funnelStream's
    * horizon: once the event-time watermark passes a purchase, its
    * window can no longer change (late clicks would be below the
    * watermark), so it emits finally and drops; a click older than
    * watermark − 24 h can serve no future purchase and drops too —
    * O(horizon) state. The replayable mode keeps the retraction-free
    * gate semantics instead. */
  def decayAttributionStream(events: DataFrame,
                             winMs: Long = 86400000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, String, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[
        (List[(Long, Long)], List[(Long, Long, Long)], Long),
        (Long, Long, Long, Long, Long, Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, String, Long, Long)],
         state: GroupState[
           (List[(Long, Long)], List[(Long, Long, Long)], Long)]) =>
          val (c0, p0, upd0) = state.getOption
            .getOrElse((List.empty[(Long, Long)],
              List.empty[(Long, Long, Long)], 0L))
          var clicks = c0
          var purchases = p0
          rows.foreach {
            case (_, id, "click", ms, _) => clicks ::= ((id, ms))
            case (_, id, "purchase", ms, cents) =>
              purchases ::= ((id, ms, cents))
            case _ => ()
          }
          val upd = upd0 + 1
          state.update((clicks, purchases, upd))
          purchases.iterator.flatMap { case (pId, pMs, cents) =>
            val inWin = clicks
              .filter { case (_, cMs) => cMs > pMs - winMs && cMs < pMs }
              .map { case (cId, cMs) =>
                val h = (pMs - cMs) / 3600000L
                (cId, h, 1L << (23 - h))
              }
            val totalW = inWin.map(_._3).sum
            inWin.map { case (cId, h, w) =>
              (user, pId, cId, cents, h, w, totalW,
                w.toDouble / totalW.toDouble, upd)
            }
          }
      }
      .toDF("user_id", "p_id", "c_id", "value_cents", "h", "w",
        "total_w", "credit", "upd")
  }

  /** Streaming FUZZY admission: flag records whose `name` is within
    * edit distance ≤ `maxEdits` of any name on a bounded reference
    * list (typo-squatted usernames, near-variant banned titles) —
    * the streaming face of the q196 family. Stateless: the reference
    * collapses to two broadcast-constant arrays (its deletion-
    * neighborhood keys and its raw names); per record, the cheap
    * `arrays_overlap` on deletion keys gates the exact per-reference
    * `levenshtein` scan (the q157 bloom→exact discipline — the key
    * prefilter is COMPLETE by the SymSpell guarantee, so a record
    * with no key overlap provably has no match and skips the scan).
    * Admission is decided by the EXACT check, never the prefilter
    * (the round-6 Blocklist ruling). Reference must be bounded
    * (constant-folded into the plan); a corpus-sized reference
    * belongs in the batch join ([[graft.ops.Fuzzy.deltaEditDistanceJoin]]). */
  def fuzzyAdmission(stream: DataFrame, reference: DataFrame,
                     nameCol: String = "name",
                     maxEdits: Int = 1): DataFrame = {
    val refNames = reference.select(col(nameCol).cast("string"))
      .where(col(nameCol).isNotNull)
      .distinct().collect().map(_.getString(0)).sorted
    val keysOf = graft.ops.Fuzzy.delKeysExpr(nameCol, maxEdits)
    // reference keys computed ONCE via the same expr the stream
    // applies per record — one spelling, no drift
    val refKeyArr = {
      import reference.sparkSession.implicits._
      refNames.toSeq.toDF(nameCol)
        .select(explode(expr(keysOf)).as("k")).distinct()
        .collect().map(_.getString(0)).sorted
    }
    // null-name records match nothing and ADMIT (coalesce, not
    // propagate: a NULL admitted would silently drop the record in
    // any downstream `where(admitted)` — the batch operators'
    // null-coalesce discipline)
    stream
      .withColumn("key_hit",
        coalesce(arrays_overlap(expr(keysOf),
          array(refKeyArr.map(lit(_)): _*)), lit(false)))
      .withColumn("fuzzy_match",
        col("key_hit") && coalesce(exists(
          array(refNames.map(lit(_)): _*),
          rn => levenshtein(col(nameCol), rn) <= maxEdits), lit(false)))
      .withColumn("admitted", !col("fuzzy_match"))
  }

  def blocklistAdmission(stream: DataFrame,
                         blockedTexts: DataFrame): DataFrame = {
    import graft.dedup.Md5Prefix
    val words = graft.ops.Blocklist.filterWordsArray(
      blockedTexts.select(Md5Prefix.h(col("text")).as("h")))
    stream
      .withColumn("h", Md5Prefix.h(col("text")))
      .withColumn("arr", array(words.map(lit(_)): _*))
      .withColumn("bloom_hit", graft.ops.Blocklist.hitColumn)
      .withColumn("admitted", !col("bloom_hit"))
      .drop("arr")
  }

  /** Drain a stream with `Trigger.AvailableNow`, returning per-batch
    * row counts — the observability half of backpressure: asserting
    * (in tests) and monitoring (in production) that no micro-batch
    * exceeded the admitted size. Row counts come from the batch itself
    * inside `foreachBatch`, so they are exact, not sampled. */
  def drainWithBatchStats(df: DataFrame,
                          checkpointDir: String): Seq[(Long, Long)] = {
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // single-threaded per query: micro-batches run sequentially
        stats += batchId -> batch.count()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    stats.toSeq
  }
}
