package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Query, QueryModule, Tables}
import graft.util.Checkpoints

/** Event-time operators over the `events` table: tumbling windows,
  * gap-based sessionization, and as-of join — the batch semantics that
  * the streaming module (graft.streaming) mirrors with watermarks.
  *
  * Scale shape: everything partitions by `user_id` (or the window
  * bucket) — one shuffle, then per-key windows; the as-of join is the
  * union-and-last-value trick, NOT an inequality join (which would be
  * a broadcast-nested-loop at cluster scale). Timestamps surface as
  * epoch millis (long) so cross-engine comparison is integer-exact.
  */
object EventOps extends QueryModule {

  private val D = DecimalType(18, 2)

  /** q60: tumbling 1-hour window aggregation. */
  def tumblingHourly(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(
        unix_millis(date_trunc("HOUR", col("ts"))).as("hour_ms"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      .orderBy("hour_ms", "event_type")

  /** q61: gap-based sessionization (30-min inactivity): classic
    * lag → new-session flag → running sum → per-session aggregate.
    * Two window passes over the same (user_id, ts) ordering — Spark
    * reuses the single sort/shuffle for both. */
  def sessionize(s: SparkSession, dir: String,
                 gapMinutes: Int = 30): DataFrame = {
    val gapMs = gapMinutes * 60000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .withColumn("prev_ms", unix_millis(lag(col("ts"), 1).over(byUser)))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
          unix_millis(col("ts")) - col("prev_ms") > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"))
      .orderBy("user_id", "session_id")
  }

  /** q234: the BUILT-IN `session_window` spelling of q61 — sessions
    * merge while each event arrives strictly inside the previous
    * event's [ts, ts+gap) window (so a gap of EXACTLY 30 min starts a
    * new session — one notch stricter than q61's `diff > gap` manual
    * rule, and the reason the two queries are gated separately). The
    * oracle replays the gaps-and-islands spelling with the `>= gap`
    * break, and the output carries BOTH the built-in window bounds
    * and the manual min/max — `w_start_ms = start_ms` and
    * `w_end_ms = last_ms + gap` are the cross-spelling witnesses.
    *
    * Scale shape: one user-keyed session aggregation — Spark's native
    * session operator does the merge without a window function. */
  def sessionWindowBuiltin(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("last_ms"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("w_start_ms"),
        unix_millis(col("w.end")).as("w_end_ms"),
        col("n_events"), col("start_ms"), col("last_ms"))
      .orderBy("user_id", "start_ms")

  /** q241: per-group least-squares regression (value vs hour of day)
    * — the `regr_slope`/`regr_intercept` family, spelled with EXACT
    * accumulators instead of the built-ins' order-dependent float
    * sums: Σx/Σx² are integers, Σy/Σxy are exact decimals (the
    * [[graft.util.Exact]] discipline), and slope/intercept are final
    * double expression trees over those exact aggregates — so the
    * regression is hash-gateable where `regr_slope` itself is not.
    * One partial-agg rollup per group; no second pass. */
  def groupRegression(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .where(col("value").isNotNull)
      .select(col("event_type"), hour(col("ts")).cast("long").as("x"),
        col("value").cast(D).as("y"))
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).cast(DecimalType(38, 2)).as("sy"),
        sum(col("x") * col("y")).cast(DecimalType(38, 2)).as("sxy"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double"))
      // exact-decimal accumulators EXIT as doubles (the q86 output
      // rule — engines disagree on decimal wire types, not values)
      .withColumn("sy", col("sy").cast("double"))
      .withColumn("sxy", col("sxy").cast("double"))
      .orderBy("event_type")
  }

  /** q250: seasonal-naive forecast evaluation — the baseline every
    * traffic-forecasting effort must beat, evaluated exactly:
    * predict each (type, date, hour) count as the SAME HOUR YESTERDAY
    * and score it against the one-step naive (previous hour) on a
    * DENSE date×hour grid (missing cells count as 0 — absent-hour
    * semantics must be explicit or the two baselines disagree on
    * coverage). Absolute errors of integer counts sum exactly; the
    * MASE-style ratio is the one final division. First date (no
    * yesterday) and hour 0 of the first date (no previous hour) are
    * excluded from their respective error sums symmetrically via the
    * grid join.
    *
    * Scale shape: one events rollup → a dense |dates|·24·|types|
    * grid (generated, tiny) left-joined to counts → two lag joins on
    * the grid only. */
  /** The dense (event_type, absolute-hour, count) grid — missing
    * hours as explicit zeros — shared by the q250 forecast eval and
    * the q252 anomaly scan. */
  private def hourlyGrid(s: SparkSession, dir: String): DataFrame =
    // ≥3 consumers (q250's two lag sides × a/b + q252): one zone, or
    // the events rollup replays per consumer (12 scans measured)
    graft.util.Scratch.memo(s, "hourly-grid", s"hourly-grid:$dir") {
      denseGridOf(Tables.load(s, dir, "events"))
    }

  /** The dense grid from any (event_type, ts) relation — the batch
    * derivation of [[hourlyGrid]]. */
  private def denseGridOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    val ev = events
      .select(col("event_type"), to_date(col("ts")).as("d"),
        hour(col("ts")).cast("long").as("h"))
    val counts = ev.groupBy(col("event_type"), col("d"), col("h"))
      .agg(count(lit(1)).as("c"))
    val dates = ev.select(col("d")).distinct()
    val types = ev.select(col("event_type")).distinct()
    dates.crossJoin(types)
      .crossJoin(s.range(0, 24).select(col("id").as("h")))
      .join(counts, Seq("event_type", "d", "h"), "left")
      .select(col("event_type"),
        (datediff(col("d"), lit("1970-01-01")).cast("long") * 24 +
          col("h")).as("t"),
        coalesce(col("c"), lit(0L)).as("c"))
  }

  def seasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val g = hourlyGrid(s, dir)
    val seas = g.as("a").join(g.as("b"),
        col("b.event_type") === col("a.event_type") &&
          col("b.t") === col("a.t") - 24)
      .select(col("a.event_type").as("event_type"),
        abs(col("a.c") - col("b.c")).as("e"))
      .groupBy(col("event_type"))
      .agg(sum(col("e")).as("sae_seasonal"), count(lit(1)).as("n_seasonal"))
    val naive = g.as("a").join(g.as("b"),
        col("b.event_type") === col("a.event_type") &&
          col("b.t") === col("a.t") - 1)
      .select(col("a.event_type").as("event_type"),
        abs(col("a.c") - col("b.c")).as("e"))
      .groupBy(col("event_type"))
      .agg(sum(col("e")).as("sae_naive1"), count(lit(1)).as("n_naive1"))
    seas.join(naive, "event_type")
      .withColumn("mase_x_ratio",
        (col("sae_seasonal").cast("double") * col("n_naive1").cast("double"))
          / (col("sae_naive1").cast("double") *
            col("n_seasonal").cast("double")))
      .orderBy("event_type")
  }

  /** q252: trailing z-score anomaly scan — each hour's count scored
    * against its preceding 24 hours per event type: the on-call
    * "traffic spike/drop" detector. The statistic is EXACT up to two
    * IEEE operations: z = (24c − Σ) / √(24Σx² − Σ²) with every term
    * under the division/sqrt an exact integer, and IEEE-754 `sqrt`
    * is correctly rounded in both engines, so even the square root
    * gates bit-for-bit. Zero-variance windows score NULL (flagged
    * false); only full 24-hour windows score at all.
    *
    * Scale shape: one window per event type over the dense hourly
    * grid — bounded by the time range, not the corpus. */
  def countAnomaly(s: SparkSession, dir: String): DataFrame =
    anomalyOf(hourlyGrid(s, dir))

  /** The q252 scoring over any dense (event_type, t, c) grid — shared
    * by the batch gate and the streaming monitor's readout. */
  private[graft] def anomalyOf(grid: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
      .rowsBetween(-24, -1)
    grid
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("sw", sum(col("c")).over(w))
      .withColumn("ssw", sum(col("c") * col("c")).over(w))
      .where(col("nw") === 24)
      .withColumn("z",
        when(lit(24L) * col("ssw") - col("sw") * col("sw") > 0,
          (lit(24L) * col("c") - col("sw")).cast("double") /
            sqrt((lit(24L) * col("ssw") - col("sw") * col("sw"))
              .cast("double"))))
      .select(col("event_type"), col("t"), col("c"), col("sw"),
        col("ssw"), col("z"),
        coalesce(abs(col("z")) > 3.0, lit(false)).as("anomalous"))
      .orderBy("event_type", "t")
  }

  /** q266: RFM segmentation — the classic marketing rollup: each
    * purchasing user scored 1–5 on Recency (last purchase day),
    * Frequency (purchase count) and Monetary (lifetime cents), then
    * segment counts. Scores are EXACT quintiles via the q159
    * value-histogram method — (value, count) rollup, running count
    * over the histogram, threshold = smallest value whose running
    * count reaches ⌈q·n/5⌉ — never an `ntile` (a corpus-sized
    * single-partition sort) and never a float percentile (engines
    * disagree on interpolation). Frequency and monetary are
    * log-bucketed by bit-length first (`length(bin(x))`, the shared
    * cross-engine idiom) so their histogram domains are ≤64 rows by
    * construction; recency's domain is the day range. Score = 1 +
    * |thresholds strictly below| — pure integer logic, bit-identical
    * across engines.
    *
    * Scale shape: one events scan → per-user rollup (user-keyed
    * shuffle); three histograms whose windows run over BOUNDED
    * domains (days / ≤64 bit-lengths — the q159 tiny-window rule);
    * thresholds are 1-row constant broadcasts; scoring is map-side. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.load(s, dir, "events")
      .where(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("unix_millis(ts) div 86400000").as("day"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(max(col("day")).as("rv"),
        length(bin(count(lit(1)))).cast("long").as("fv"),
        length(bin(sum(col("cents")).cast("long"))).cast("long")
          .as("mv"))
    val tot = u.agg(count(lit(1)).as("tot"))
    def thresholds(c: String, p: String): DataFrame = {
      val h = u.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      // bounded-domain histogram window (days / ≤64 bit-lengths)
      val cum = h.withColumn("cum",
        sum(col("cnt")).over(Window.orderBy(col("v"))))
      def t(pct: Int) =
        min(when(col("cum") >= expr(s"(tot * $pct + 99) div 100"),
          col("v"))).as(s"$p$pct")
      cum.crossJoin(broadcast(tot))
        .agg(t(20), t(40), t(60), t(80))
    }
    def score(c: String, p: String) =
      (lit(1L) +
        when(col(c) > col(s"${p}20"), 1L).otherwise(0L) +
        when(col(c) > col(s"${p}40"), 1L).otherwise(0L) +
        when(col(c) > col(s"${p}60"), 1L).otherwise(0L) +
        when(col(c) > col(s"${p}80"), 1L).otherwise(0L)).as(s"${p}_score")
    u.crossJoin(broadcast(thresholds("rv", "r")))
      .crossJoin(broadcast(thresholds("fv", "f")))
      .crossJoin(broadcast(thresholds("mv", "m")))
      .select(score("rv", "r"), score("fv", "f"), score("mv", "m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** q257: top user journeys — the most common 3-step event paths
    * (q228's transition matrix is first-order; this is the path-level
    * report product analytics reads to see what users actually DO):
    * two leads per user stream → path rollup → top-10 via the
    * distributed heap with a full-path tie-break. */
  def topPaths(s: SparkSession, dir: String, topN: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("s2", lead(col("event_type"), 1).over(w))
      .withColumn("s3", lead(col("event_type"), 2).over(w))
      .where(col("s2").isNotNull && col("s3").isNotNull)
      .groupBy(col("event_type").as("s1"), col("s2"), col("s3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
      .limit(topN)
  }

  /** q290's half-window (hours): the centered frame is t±[[MedHalf]]. */
  val MedHalf = 12

  /** q295: monthly growth accounting — every product-analytics
    * stack's user-state ledger: per calendar month, how many active
    * users are NEW (first month ever), RETAINED (also active the
    * month before), RESURRECTED (active before, but not last month),
    * and how many users CHURNED into this month (active last month,
    * absent now). States are decided per user from one lag/lead pass
    * over their distinct active months — all integer month
    * arithmetic (months since epoch), so the ledger gates exactly.
    * Churn is attributed to the month AFTER the last activity and
    * capped at the observation window's final month (a user active
    * in the last month hasn't churned YET — right-censoring spelled
    * identically in both engines).
    *
    * Scale shape: one distinct (user, month) rollup — user-month
    * cardinality, far below raw events — then one user-keyed window
    * and a month rollup; the max-month is the sanctioned 1-row
    * broadcast. */
  def growthAccounting(s: SparkSession, dir: String): DataFrame = {
    val ua = Tables.load(s, dir, "events")
      .select(col("user_id"),
        ((year(col("ts")) - 1970) * 12 + month(col("ts")) - 1)
          .cast("long").as("mo"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("mo"))
    val tagged = ua
      .withColumn("prev", lag(col("mo"), 1).over(w))
      .withColumn("nxt", lead(col("mo"), 1).over(w))
    val maxMo = ua.agg(max(col("mo")).as("max_mo"))
    val states = tagged.select(col("mo"),
      when(col("prev").isNull, lit("new"))
        .when(col("prev") === col("mo") - 1, lit("retained"))
        .otherwise(lit("resurrected")).as("state"))
    val churn = tagged
      .crossJoin(broadcast(maxMo))
      .where((col("nxt").isNull || col("nxt") > col("mo") + 1) &&
        col("mo") + 1 <= col("max_mo"))
      .select((col("mo") + 1).as("mo"), lit("churned").as("state"))
    states.union(churn)
      .groupBy(col("mo"))
      .agg(sum(when(col("state") === "new", 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("state") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        sum(when(col("state") === "churned", 1L).otherwise(0L))
          .as("n_churned"))
      .orderBy("mo")
  }

  /** q290: robust moving-median smoothing of the hourly count grid —
    * the outlier-resistant baseline a monitoring stack prefers over
    * the q252 mean/z-score when single spiky hours would drag a mean
    * (a median ignores them). Median is the LOWER median of the
    * centered 25-hour frame — rank (n+1) div 2 of the sorted frame —
    * so every output is an exact BIGINT: no interpolation, nothing
    * float, engines can't drift (DuckDB's median() interpolates even
    * frames, so both sides spell the explicit sorted-list index
    * instead). Deviation c − med rides along as the anomaly signal.
    *
    * Scale shape: one type-keyed RANGE window over the shared dense
    * hourly-grid zone; the collected frame is ≤ 2·[[MedHalf]]+1
    * values — a bounded array by CONSTRUCTION (constant window, not
    * data-sized), which is what makes the collect admissible (the
    * q168 lesson: never collect a data-sized bucket). */
  def movingMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
      .rangeBetween(-MedHalf, MedHalf)
    hourlyGrid(s, dir)
      .withColumn("frame", sort_array(collect_list(col("c")).over(w)))
      .select(col("event_type"), col("t"), col("c"),
        element_at(col("frame"),
          expr("CAST((size(frame) + 1) div 2 AS INT)")).as("med"))
      .withColumn("dev", col("c") - col("med"))
      .orderBy("event_type", "t")
  }

  /** q281's round budget — shared with the oracle's unrolled chain
    * (a fixed-round contract, the q268 rule: "until converged" is
    * not cross-engine reproducible; k synchronous steps are). */
  val MarkovRounds = 8
  /** q281's fixed-point scale (probability mass × 2¹⁶ per type). */
  val MarkovScale = 1L << 16

  /** q281: stationary distribution of q228's first-order Markov
    * chain — where a user's event stream spends its long-run time,
    * the steady-state companion to the transition matrix (the base
    * of Markov engagement models and chain-based attribution). Power
    * iteration in EXACT integer arithmetic: mass starts uniform at
    * [[MarkovScale]] per type and each round routes π(i)·n(i,j) div
    * n_from(i) along every observed transition — floor division
    * leaks ≤|cells| units per round identically in both engines, so
    * the fixpoint gates hash-exact (the q180 discipline applied to a
    * row-normalized chain). Types with no outgoing transition drop
    * their mass (absorbing-dangling); with a fixed round budget that
    * too is deterministic and mirrored.
    *
    * Scale shape: ONE user-keyed window shuffle builds the ≤|types|²
    * cell relation (q228's shape); all [[MarkovRounds]] iterations
    * run on that tiny relation — joins and rollups over ≤|types|²
    * rows, nothing returns to the corpus. */
  def markovStationary(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val cells = Checkpoints.root(Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n"))
        .over(Window.partitionBy(col("from_type"))))) // once per round
    // NOT rooted although it appears 9× in the unrolled plan: a root
    // turns `types` into a LogicalRDD whose size estimate is
    // defaultSizeInBytes, which demotes every per-round
    // broadcast join to sort-merge — probed r15: 1.56 → 3.74 s. The
    // repeated scan+distinct is the cheaper side of that trade.
    val types = Tables.load(s, dir, "events")
      .select(col("event_type").as("t")).distinct()
    var pi = types.withColumn("m", lit(MarkovScale))
    for (_ <- 1 to MarkovRounds) {
      val flow = cells.join(pi, cells("from_type") === pi("t"))
        .select(col("to_type"),
          expr("(m * n) div n_from").as("c"))
        .groupBy(col("to_type")).agg(sum(col("c")).as("inflow"))
      pi = types.join(flow, types("t") === flow("to_type"), "left")
        .select(col("t"),
          coalesce(col("inflow"), lit(0L)).as("m"))
    }
    pi.select(col("t").as("event_type"), col("m").as("mass_fp"))
      .orderBy("event_type")
  }

  /** The unrolled q281 power-iteration rounds as DuckDB CTEs —
    * generated from the SAME constants the Spark loop uses. */
  private def markovIterSql: String =
    (1 to MarkovRounds).map { k =>
      s"""fl$k AS (
         |  SELECT c.to_type,
         |    CAST(sum((p.m * c.n) // c.n_from) AS BIGINT) AS inflow
         |  FROM cells c JOIN pi${k - 1} p ON p.t = c.from_type
         |  GROUP BY 1),
         |pi$k AS MATERIALIZED (
         |  SELECT ty.t, coalesce(f.inflow, CAST(0 AS BIGINT)) AS m
         |  FROM types ty LEFT JOIN fl$k f ON f.to_type = ty.t)"""
        .stripMargin
    }.mkString(",\n")

  private[ops] def markovStationarySql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
       |  FROM events),
       |p AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER
       |      (PARTITION BY user_id ORDER BY ms, event_id) AS to_type
       |  FROM e),
       |g AS (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |cells AS MATERIALIZED (
       |  SELECT from_type, to_type, n,
       |    CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
       |      AS n_from
       |  FROM g),
       |types AS MATERIALIZED (
       |  SELECT DISTINCT event_type AS t FROM events),
       |pi0 AS MATERIALIZED (
       |  SELECT t, CAST($MarkovScale AS BIGINT) AS m FROM types),
       |$markovIterSql
       |SELECT t AS event_type, m AS mass_fp
       |FROM pi$MarkovRounds ORDER BY event_type""".stripMargin

  /** q258: time-decay attribution — every purchase's value credited
    * across the user's clicks in the preceding 24 h with
    * exponentially decaying weight, spelled EXACTLY: the per-hour
    * half-life weight is the integer `1 << (23 − hours_ago)` (shift
    * semantics agree across engines), the per-purchase normalizer is
    * a purchase-keyed window sum of those integers, and the credit
    * share is the one final double division per pair. The q63 bucket
    * machinery keeps the click join an equi-join (user, 24 h bucket)
    * with the range as a residual — no inequality-driven join. */
  def decayAttribution(s: SparkSession, dir: String): DataFrame =
    decayAttributionOf(Tables.load(s, dir, "events"))

  /** q258's core over any (event_id, ts, user_id, event_type, value)
    * relation — shared with the streaming mirror's spec. */
  def decayAttributionOf(events: DataFrame): DataFrame = {
    val winMs = 86400000L // 24 h window, bucket width
    val ev = events.withColumn("ms", unix_millis(col("ts")))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ms").as("p_ms"),
        floor(col("value") * 100).cast("long").as("value_cents"),
        (col("ms") / winMs).cast("long").as("bucket"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ms").as("c_ms"),
        explode(array((col("ms") / winMs).cast("long"),
          (col("ms") / winMs).cast("long") + 1)).as("bucket"))
    val pairs = purchases.join(clicks,
        purchases("user_id") === clicks("c_user") &&
          purchases("bucket") === clicks("bucket") &&
          // strictly > (exclusive lower bound): a click exactly 24 h
          // before would give h = 24 and a NEGATIVE shift count, which
          // Spark's shiftleft masks while DuckDB errors — exclude it
          // identically in both engines.
          col("c_ms") > col("p_ms") - winMs && col("c_ms") < col("p_ms"))
      .withColumn("h", expr("(p_ms - c_ms) div 3600000"))
      .withColumn("w",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(23 - h AS INT))"))
    val byPurchase = Window.partitionBy(col("p_id"))
    pairs
      .withColumn("total_w", sum(col("w")).over(byPurchase))
      .select(col("p_id"), col("c_id"), col("value_cents"), col("h"),
        col("w"), col("total_w"),
        (col("w").cast("double") / col("total_w").cast("double"))
          .as("credit"))
      .orderBy("p_id", "c_id")
  }

  /** q261: inter-arrival analysis — per event type, the per-user gap
    * statistics (count, exact millisecond sum, mean, and the
    * events-per-hour rate a capacity planner reads): one lag window
    * per user stream, integer gap sums, two final divisions. */
  def interArrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ms"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
      .where(col("gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sum_gap_ms"),
        max(col("gap")).as("max_gap_ms"))
      .withColumn("mean_gap_ms",
        col("sum_gap_ms").cast("double") / col("n_gaps").cast("double"))
      .withColumn("rate_per_hour",
        (col("n_gaps") * lit(3600000L)).cast("double") /
          col("sum_gap_ms").cast("double"))
      .orderBy("event_type")
  }

  /** q62: as-of join — for each 'error' event, the most recent 'click'
    * timestamp of the same user at or before it. Implemented as ONE
    * pass: order each user's events by time with clicks sorting before
    * errors on ties, carry the last click forward (`last` with
    * ignoreNulls over an unbounded-preceding frame), keep errors. */
  def asofLastClick(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .where(col("event_type").isin("click", "error"))
    // click=0 sorts before error=1 at equal ts → ts<=ts ties included
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"),
        when(col("event_type") === "click", 0).otherwise(1),
        col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_ms",
        last(when(col("event_type") === "click", unix_millis(col("ts"))),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("last_click_ms"))
      .orderBy("event_id")
  }

  /** q63: range join — for each 'purchase', how many 'click' events of
    * the same user in the preceding 10 minutes. A naive inequality
    * join is O(n²)-ish (broadcast-nested-loop at scale); instead both
    * sides bucket to the range width and equi-join on
    * (user, bucket) with clicks replicated to ≤2 adjacent buckets —
    * the residual range predicate then filters exactly. Linear, one
    * shuffle, no BNLJ. */
  def rangeJoinClicks(s: SparkSession, dir: String): DataFrame = {
    val winMs = 600000L // 10 minutes = bucket width
    val ev = Tables.load(s, dir, "events")
      .withColumn("ms", unix_millis(col("ts")))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ms").as("p_ms"),
        (col("ms") / winMs).cast("long").as("bucket"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ms").as("c_ms"),
        explode(array((col("ms") / winMs).cast("long"),
          (col("ms") / winMs).cast("long") + 1)).as("bucket"))
    purchases.join(clicks,
        purchases("user_id") === clicks("c_user") &&
          purchases("bucket") === clicks("bucket") &&
          col("c_ms") >= col("p_ms") - winMs && col("c_ms") <= col("p_ms"),
        "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(col("c_ms")).as("n_clicks_10m"))
      .orderBy("event_id")
  }

  /** The day-partitioned events zone — shared by the static-pruning
    * (q86) and dynamic-pruning (q217) consumers. A `Scratch.memoZone`
    * keyed by kind and dir: built once per application, app-scoped,
    * deleted by `Scratch.clear`, and its build counted in
    * `Scratch.buildSeconds`. */
  private[ops] def eventsByDayZone(s: SparkSession, dir: String): String =
    graft.util.Scratch.memoZone(s, "events_by_day", s"events_by_day:$dir") { p =>
      val ev = Tables.load(s, dir, "events")
        .withColumn("event_date", to_date(col("ts")))
      graft.pipeline.Pipeline.materializePartitioned(
        s, ev, p, Seq("event_date"))
    }

  /** q86: partitioned-zone consumer — the zone layout a 100 TB events
    * table actually uses. Events are materialized partitioned by
    * `event_date` (hive-style day directories,
    * Pipeline.materializePartitioned), and the query reads the zone
    * back with a 3-of-30-day predicate: the scan's plan shows
    * `PartitionFilters: [... (event_date >= 2024-01-10) ...]` and lists
    * only the three matching day directories — 90% of the table is
    * never opened (plan audit in PLANS.md). The zone is built once per
    * application ([[eventsByDayZone]]), so the gate measures the
    * CONSUMER, not the one-time materialization. */
  def partitionPruned(s: SparkSession, dir: String): DataFrame = {
    val zone = eventsByDayZone(s, dir)
    Tables.read(s, zone)
      .where(col("event_date").between("2024-01-10", "2024-01-12"))
      .groupBy(col("event_date").cast("string").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      .orderBy("day", "event_type")
  }

  /** q217: DYNAMIC partition pruning — q86's static 3-day predicate
    * replaced by a dimension only known at runtime: the even-count
    * days of the raw events table (a HAVING on a non-key column, so
    * constraint propagation CANNOT turn it into a static fact-side
    * filter). The optimizer inserts a `dynamicpruning` subquery into
    * the zone scan's PartitionFilters — day directories that fail the
    * runtime dim are never opened (pinned in PlanAuditSpec). This is
    * the at-scale join shape for "fact partitioned by date ⋈ the
    * dates some other computation selected": without DPP the zone
    * scan reads all days and discards rows post-join.
    *
    * The dim derivation is one partial-agg scan of raw events; the
    * join is a broadcast of ≤ #days rows the DPP subquery reuses. */
  def dppJoin(s: SparkSession, dir: String): DataFrame = {
    val zone = eventsByDayZone(s, dir)
    val dim = Tables.load(s, dir, "events")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") % 2 === 0)
      .select(col("d"))
    val fact = Tables.read(s, zone)
    fact.join(dim, fact("event_date") === dim("d"))
      .groupBy(col("event_date").cast("string").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast("double").as("sum_value"))
      .orderBy("day", "event_type")
  }

  /** q218: SCD Type-2 interval build — the warehouse pattern for
    * "what was this entity's state over time": each user's event
    * stream collapses into validity intervals of constant
    * event_type, consecutive duplicates merged (gaps-and-islands:
    * null-safe change flag → running sum → island id), each island
    * closed by the NEXT island's start (`lead`), the last one open
    * (`is_current`). This is how a dimension table tracks history
    * under updates — the batch spelling of CDC apply.
    *
    * Scale shape: three user-partitioned windows + one (user, island)
    * rollup — every step shuffles on the entity key only; no window
    * ever spans users, so the plan shards with the key space. */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame =
    scd2Of(Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms")))

  /** The q218 transform over any (user_id, event_id, event_type, ms)
    * relation — [[graft.sinks.Scd2Maintain]] reuses it on the touched
    * subset so the incremental fold can never drift from the batch
    * spelling. */
  private[graft] def scd2Of(e: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val c = e.withColumn("chg",
      when(!(lag(col("event_type"), 1).over(wSeq) <=> col("event_type")),
        1L).otherwise(0L))
    val i = c.withColumn("island", sum(col("chg")).over(
      wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val g = i.groupBy(col("user_id"), col("island"))
      .agg(min(col("event_type")).as("event_type"),
        min(col("ms")).as("valid_from_ms"),
        count(lit(1)).as("n_events"))
    val wI = Window.partitionBy(col("user_id")).orderBy(col("island"))
    g.withColumn("valid_to_ms", lead(col("valid_from_ms"), 1).over(wI))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .select(col("user_id"), col("event_type"), col("valid_from_ms"),
        col("valid_to_ms"), col("is_current"), col("n_events"))
      // tie-break beyond valid_from_ms: adjacent islands can share a
      // start millisecond (same-ms events across a type change), and
      // Spark/DuckDB may break such ties differently. COALESCE keeps
      // the null-ordering semantics engine-independent; rows tying on
      // ALL keys are identical, so order no longer affects the hash.
      .orderBy(col("user_id"), col("valid_from_ms"), col("event_type"),
        coalesce(col("valid_to_ms"), lit(-1L)), col("n_events"))
  }

  /** q223: the incrementally-MAINTAINED q218 — the interval zone built
    * by [[graft.sinks.Scd2Maintain]] from three interleaved ingest
    * batches (sliced by `event_id % 3`, so every batch is heavily
    * out-of-order relative to event time) must produce bit-identical
    * intervals to the one-shot batch build: the gate runs the SAME
    * oracle string as q218. Zone built once per application
    * ([[scd2Zone]]). */
  def scd2Maintained(s: SparkSession, dir: String): DataFrame =
    graft.sinks.Scd2Maintain.read(s, scd2Zone(s, dir))

  /** The three-batch SCD2 zone (q223 and q242 both consume it). A
    * `Scratch.memoZone` keyed by kind and dir: built once per
    * application, app-scoped, deleted by `Scratch.clear`, and its build
    * counted in `Scratch.buildSeconds`. */
  private[ops] def scd2Zone(s: SparkSession, dir: String): String =
    graft.util.Scratch.memoZone(s, "scd2", s"scd2:$dir") { p =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"))
      graft.sinks.Scd2Maintain.init(s, p,
        ev.where(col("event_id") % 3 === 0))
      graft.sinks.Scd2Maintain.applyBatch(s, p,
        ev.where(col("event_id") % 3 === 1))
      graft.sinks.Scd2Maintain.applyBatch(s, p,
        ev.where(col("event_id") % 3 === 2))
    }

  /** q242's fixed valid-time probe: 2024-01-15T00:00:00Z. */
  val BitemporalProbeMs = 1705276800000L

  /** q242: BITEMPORAL query — "what state was each user in at
    * valid-time T, as the warehouse KNEW IT after ingest epoch E".
    * Valid time lives in the q218 intervals; transaction time is the
    * zone's MergeOnRead epoch chain (epoch 0 = the first batch's
    * base, epochs 1–2 = the out-of-order ingest merges), so the two
    * time axes compose for free from machinery the zone already has.
    * Early epochs genuinely REVISE history: epoch 0 only knows
    * one-third of the events, so states at T differ per epoch — the
    * defining bitemporal behavior, visible in the per-epoch counts.
    *
    * The oracle replays each epoch as the interval build over exactly
    * the event slices that epoch had ingested (the same `scd2SqlFor`
    * template — no drift), PIT-filtered at T. Scale shape: three
    * epoch reads of the same zone (each one reconcile window) + tiny
    * rollups. */
  def bitemporal(s: SparkSession, dir: String): DataFrame = {
    val root = scd2Zone(s, dir)
    val T = lit(BitemporalProbeMs)
    (0L to 2L).map { e =>
      graft.sinks.Scd2Maintain.read(s, root, asOf = e)
        .where(col("valid_from_ms") <= T &&
          (col("valid_to_ms").isNull || T < col("valid_to_ms")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .select(lit(e).as("epoch"), col("event_type"), col("n_users"))
    }.reduce(_ unionByName _).orderBy("epoch", "event_type")
  }

  /** q224: point-in-time (temporal) join — each probe resolves to the
    * q218 validity interval CONTAINING its timestamp: the "what was
    * the dimension state when this fact happened" join every SCD2
    * table exists to answer. Probes are the events shifted +30 s, so
    * containment, boundary (`from ≤ t`), and the open last interval
    * (`valid_to IS NULL`) all get exercised; every probe lands in
    * exactly one interval because intervals partition
    * [first event, ∞) per user.
    *
    * Scale shape: ONE user-keyed equi-join with the interval
    * containment as a residual predicate — per-user interval lists
    * are small (bounded by that user's state changes), so the
    * residual scan is cheap and nothing non-equi ever drives the
    * join. */
  def pitJoin(s: SparkSession, dir: String): DataFrame = {
    val probes = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        (unix_millis(col("ts")) + 30000L).as("t"))
    val iv = scd2Intervals(s, dir)
      .select(col("user_id"), col("event_type").as("state_type"),
        col("valid_from_ms"), col("valid_to_ms"))
    probes.as("p").join(iv.as("i"),
        col("p.user_id") === col("i.user_id") &&
          col("i.valid_from_ms") <= col("p.t") &&
          (col("i.valid_to_ms").isNull ||
            col("p.t") < col("i.valid_to_ms")))
      .select(col("p.event_id").as("event_id"),
        col("p.user_id").as("user_id"), col("p.t").as("t"),
        col("i.state_type").as("state_type"),
        col("i.valid_from_ms").as("valid_from_ms"))
      .orderBy("event_id")
  }

  /** q227: ORDERED funnel with step deadlines — view → click →
    * purchase where each step must land within 30 minutes of the
    * previous step's time (q127 counts unordered step membership;
    * this is the sequential-pattern version product analytics
    * actually mean by "funnel"). Step times are earliest-qualifying
    * (min), so the result is deterministic and the chain is the
    * greedy parse of the user's stream.
    *
    * Scale shape: one user-keyed rollup per step, each joined to the
    * previous step's 1-row-per-user relation on the key — three
    * key-equality shuffles, no windows, no self-join fan-out. */
  def orderedFunnel(s: SparkSession, dir: String,
                    windowMs: Long = 1800000L): DataFrame =
    orderedFunnelOf(Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms")), windowMs)

  /** The q227 transform over any (user_id, event_type, ms) relation. */
  private def orderedFunnelOf(ev: DataFrame,
                              windowMs: Long): DataFrame = {
    val s1 = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ms")).as("t1"))
    val s2 = ev.where(col("event_type") === "click").join(s1, "user_id")
      .where(col("ms") >= col("t1") && col("ms") <= col("t1") + windowMs)
      .groupBy(col("user_id")).agg(min(col("ms")).as("t2"))
    val s3 = ev.where(col("event_type") === "purchase").join(s2, "user_id")
      .where(col("ms") >= col("t2") && col("ms") <= col("t2") + windowMs)
      .groupBy(col("user_id")).agg(min(col("ms")).as("t3"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
          .otherwise(1L).as("reached"))
      .orderBy("user_id")
  }

  /** q228: event transition matrix — per-user next-event pairs
    * (lag/lead sequence model) rolled into (from, to) counts and
    * row-normalized probabilities: the first-order Markov base of
    * "what happens after X" product analytics and next-event
    * features. One user-partitioned window + one pair rollup; the
    * probability normalizer is a tiny window over the ≤|types|²
    * pair relation (the q159 tiny-window rule). */
  def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val pairs = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("n_from", sum(col("n")).over(wf))
      .withColumn("prob",
        col("n").cast("double") / col("n_from").cast("double"))
      .orderBy("from_type", "to_type")
  }

  /** q229: A/B experiment analysis — a deterministic 50/50 user
    * split (salted md5 arithmetic, the q102 assignment discipline:
    * content-independent, replayable in both engines) and the
    * per-arm scorecard an experimentation pipeline reads: exposed
    * users, converters, purchase volume (exact decimal sum), and the
    * two ratios as single final double divisions. The assignment is
    * pure map-side column math on the scan. */
  def abAnalysis(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Md5Prefix
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("value"))
      .withColumn("arm",
        Md5Prefix.h(concat(lit("ab:"), col("user_id").cast("string")))
          % 2)
    ev.groupBy(col("arm"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("event_type") === "purchase",
          col("user_id"))).as("n_converters"),
        sum(when(col("event_type") === "purchase", lit(1L))
          .otherwise(0L)).as("n_purchases"),
        sum(when(col("event_type") === "purchase",
          col("value").cast(D)).otherwise(lit(0).cast(D)))
          .cast("double").as("purchase_value"))
      .withColumn("conv_rate",
        col("n_converters").cast("double") / col("n_users").cast("double"))
      .orderBy("arm")
  }

  /** q119: forward fill (last observation carried forward) — the
    * time-series gap repair every sensor/metrics pipeline runs: null
    * readings take the most recent non-null value for the same key.
    * The nulls are carved deterministically out of `value`
    * (event_id % 7 < 2) so both engines fill the same gaps; `n_obs`
    * counts the non-null observations seen so far (0 ⇒ `v_filled` is
    * a leading null with nothing to carry).
    *
    * One window, one shuffle on user_id; `last(_, ignoreNulls=true)`
    * over a running ROWS frame is Spark's LOCF spelling (DuckDB:
    * `last(v IGNORE NULLS)`). The filled double is carried verbatim
    * from the source column — no arithmetic, so cross-engine equality
    * is byte-exact. */
  def forwardFill(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .withColumn("v",
        when(col("event_id") % 7 < 2, lit(null).cast("double"))
          .otherwise(col("value")))
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"), col("v"),
        last(col("v"), ignoreNulls = true).over(w).as("v_filled"),
        count(col("v")).over(w).as("n_obs"))
      .orderBy("user_id", "event_id")
  }

  /** q127: funnel analysis — how many users complete
    * view → click → purchase, each stage within `winMs` of the
    * previous one: the classic product-analytics sequence query. Two
    * running-min windows over ONE (user, time) ordering resolve the
    * stage dependency without self-joins: `v_ms` carries the user's
    * first view so far; `c_ms` the first click that happened after a
    * view and within the window; a purchase converts if an eligible
    * click precedes it within the window. Order position (not raw
    * timestamp comparison) supplies the "after", so simultaneous
    * events resolve deterministically by event_id.
    *
    * Scale shape: both windows share the same partitioning and
    * ordering — Spark plans ONE shuffle + sort on user_id feeding two
    * stacked Window operators (c_ms depends on v_ms, so they cannot
    * merge into one, but the second re-sorts nothing), the per-user
    * aggregate reuses that partitioning with no further exchange, and
    * only the final single-row roll-up exchanges again (plan-pinned).
    * No joins, no per-stage scans. */
  def funnel(s: SparkSession, dir: String,
             winMs: Long = 86400000L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .withColumn("v_ms",
        min(when(col("event_type") === "view", col("ms"))).over(w))
    val clickOk = col("event_type") === "click" &&
      col("v_ms").isNotNull && col("ms") <= col("v_ms") + winMs
    val e2 = e.withColumn("c_ms", min(when(clickOk, col("ms"))).over(w))
    val purchaseOk = col("event_type") === "purchase" &&
      col("c_ms").isNotNull && col("ms") <= col("c_ms") + winMs
    e2.groupBy(col("user_id"))
      .agg(max(when(col("v_ms").isNotNull, 1).otherwise(0)).as("f_view"),
        max(when(clickOk, 1).otherwise(0)).as("f_vc"),
        max(when(purchaseOk, 1).otherwise(0)).as("f_full"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("f_view")).as("users_view"),
        sum(col("f_vc")).as("users_view_click"),
        sum(col("f_full")).as("users_full_funnel"))
  }

  /** q128: cohort retention — users grouped by first-activity day,
    * counted on each later activity day offset: the retention matrix
    * behind every "day-N retention" chart. One distinct (user, day)
    * relation, one tiny per-user min, one key-partitioned join back,
    * one aggregate — all exact integer/date math. */
  def retention(s: SparkSession, dir: String): DataFrame =
    retentionOf(Tables.load(s, dir, "events"))

  /** q128's core over any (user_id, ts) relation — shared with the
    * streaming mirror's spec. */
  def retentionOf(events: DataFrame): DataFrame = {
    val act = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohort = act.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    act.join(cohort, "user_id")
      .groupBy(col("cohort_day").cast("string").as("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** q129: per-group outlier counts via the 3σ rule, with EXACT
    * moment math (the q47 discipline): decimal power sums cast to
    * double, so mean and variance are identical doubles in both
    * engines, and the per-row (v−mean)² > 9·var comparison can never
    * disagree at the boundary. The 5-row moment table broadcasts; one
    * corpus scan per side, no window. */
  def outliers(s: SparkSession, dir: String): DataFrame = {
    val D4 = DecimalType(28, 4)
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), col("value"))
    val m = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).cast("double").as("s1"),
        sum((col("value") * col("value")).cast(D4)).cast("double")
          .as("s2"))
      .select(col("event_type"), (col("s1") / col("n")).as("mean"),
        ((col("s2") - col("s1") * col("s1") / col("n")) /
          (col("n") - 1)).as("variance"))
    ev.join(broadcast(m), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when((col("value") - col("mean")) *
            (col("value") - col("mean")) > col("variance") * 9,
          1L).otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n_total"), col("n_outliers"))
      .orderBy("event_type")
  }

  /** q130: time-weighted average — each reading holds until the next
    * one, so its weight is the gap to the successor (the last reading
    * carries no weight): the correct mean for irregularly sampled
    * series, where the arithmetic mean over-weights bursts. The
    * value×gap products are EXACT decimals (2-decimal value × integer
    * ms), summed exactly and divided ONCE into a double — a plain
    * double sum would be accumulation-order-dependent and
    * hash-diverge between engines. One window + one aggregate on the
    * same user_id partitioning: a single shuffle. */
  def timeWeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("value"))
      .withColumn("gap", lead(unix_millis(col("ts")), 1).over(byUser)
        - col("ms"))
      .groupBy(col("user_id"))
      .agg(count(col("gap")).as("n_gaps"),
        sum(col("gap")).as("sum_gap_ms"),
        (sum(col("value").cast(D) * col("gap")).cast("double") /
          sum(col("gap"))).as("twa"))
      .orderBy("user_id")
  }

  /** q136: NEAREST-event join — for each error, the click of the same
    * user with minimal |Δt| in EITHER direction: the sensor-fusion
    * semantic q62's backward-only as-of can't express (a reading just
    * AFTER the fault is often the relevant one). Ties at equal
    * distance resolve to the earlier (backward) click — the oracle
    * spells the same via `ORDER BY abs(Δ), ts`.
    *
    * Scale shape: the nearest click is either the last click ≤ t or
    * the first click > t, so two running-`last` window passes over
    * opposite orderings of ONE user-partitioned stream replace any
    * inequality join; Spark plans one shuffle on user_id with two
    * sorts. Same-timestamp clicks sort click-first in BOTH orderings
    * so a Δ=0 click is visible to each pass. */
  def nearestClick(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .where(col("event_type").isin("click", "error"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
    val clickFirst = when(col("event_type") === "click", 0).otherwise(1)
    val wBack = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), clickFirst, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").desc, clickFirst, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickMs = when(col("event_type") === "click", col("ms"))
    ev.withColumn("back_ms", last(clickMs, ignoreNulls = true).over(wBack))
      .withColumn("fwd_ms", last(clickMs, ignoreNulls = true).over(wFwd))
      .where(col("event_type") === "error")
      .withColumn("nearest_click_ms",
        when(col("back_ms").isNull, col("fwd_ms"))
          .when(col("fwd_ms").isNull, col("back_ms"))
          // <= : backward (earlier) wins equal-distance ties
          .when(col("ms") - col("back_ms") <= col("fwd_ms") - col("ms"),
            col("back_ms"))
          .otherwise(col("fwd_ms")))
      .select(col("event_id"), col("user_id"), col("nearest_click_ms"))
      .orderBy("event_id")
  }

  /** The q218 interval-build SQL over an optionally-restricted event
    * set — ONE template shared by the batch gate (q218), the
    * maintained-zone gate (q223), and q242's per-epoch bitemporal
    * replays, so the spellings cannot drift. */
  private[ops] def scd2SqlFor(where: String): String =
    s"""WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
      |  FROM events$where),""".stripMargin + """
      |c AS (
      |  SELECT user_id, event_type, ms, event_id,
      |    CASE WHEN lag(event_type) OVER w
      |      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |i AS (
      |  SELECT user_id, event_type, ms,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM c),
      |g AS (
      |  SELECT user_id, island, min(event_type) AS event_type,
      |    CAST(min(ms) AS BIGINT) AS valid_from_ms,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, event_type, valid_from_ms,
      |  lead(valid_from_ms) OVER wi AS valid_to_ms,
      |  lead(valid_from_ms) OVER wi IS NULL AS is_current,
      |  n_events
      |FROM g WINDOW wi AS (PARTITION BY user_id ORDER BY island)
      |ORDER BY user_id, valid_from_ms, event_type,
      |  COALESCE(valid_to_ms, -1), n_events""".stripMargin

  private val Scd2Sql: String = scd2SqlFor("")

  lazy val records: Seq[Query] = Seq(
    Query("q60_tumbling_hourly", tumblingHourly(_, _),
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""".stripMargin),
    Query("q61_sessionize", sessionize(_, _),
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessed AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms
        |FROM sessed GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin),
    Query("q62_asof_join", asofLastClick(_, _),
      """SELECT e.event_id, e.user_id,
        |  (SELECT max(epoch_ms(c.ts)) FROM events c
        |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
        |     AND c.ts <= e.ts) AS last_click_ms
        |FROM events e WHERE e.event_type = 'error'
        |ORDER BY e.event_id""".stripMargin),
    Query("q63_range_join", rangeJoinClicks(_, _),
      """SELECT p.event_id, p.user_id, count(c.ts) AS n_clicks_10m
        |FROM events p LEFT JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        |  AND epoch_ms(c.ts) BETWEEN epoch_ms(p.ts) - 600000 AND epoch_ms(p.ts)
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY p.event_id""".stripMargin),
    Query("q218_scd2_intervals", scd2Intervals(_, _), Scd2Sql),
    // the maintained zone is gated by the IDENTICAL oracle — the
    // incremental fold must be invisible
    Query("q223_scd2_maintained", scd2Maintained(_, _), Scd2Sql),
    // each epoch = the interval build over exactly its ingested
    // slices (the shared template), PIT-filtered at the probe
    Query("q242_bitemporal", bitemporal(_, _), (Seq(
      0 -> " WHERE event_id % 3 = 0",
      1 -> " WHERE event_id % 3 <= 1",
      2 -> "").map { case (e, w) =>
        s"""SELECT CAST($e AS BIGINT) AS epoch, event_type,
           |  CAST(count(*) AS BIGINT) AS n_users
           |FROM (
           |${scd2SqlFor(w)}
           |) iv
           |WHERE valid_from_ms <= $BitemporalProbeMs
           |  AND (valid_to_ms IS NULL
           |    OR $BitemporalProbeMs < valid_to_ms)
           |GROUP BY event_type""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY epoch, event_type")),
    Query("q261_interarrival", interArrival(_, _),
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |g AS (
        |  SELECT event_type, ms - lag(ms) OVER w AS gap
        |  FROM e WINDOW w AS (PARTITION BY user_id, event_type
        |    ORDER BY ms, event_id)),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(gap) AS BIGINT) AS sum_gap_ms,
        |    CAST(max(gap) AS BIGINT) AS max_gap_ms
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps, sum_gap_ms, max_gap_ms,
        |  CAST(sum_gap_ms AS DOUBLE) / CAST(n_gaps AS DOUBLE)
        |    AS mean_gap_ms,
        |  CAST(n_gaps * 3600000 AS DOUBLE) / CAST(sum_gap_ms AS DOUBLE)
        |    AS rate_per_hour
        |FROM a ORDER BY event_type""".stripMargin),
    Query("q266_rfm_segments", rfmSegments(_, _),
      """WITH p AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |u AS MATERIALIZED (
        |  SELECT user_id, max(day) AS rv,
        |    CAST(length(bin(CAST(count(*) AS BIGINT))) AS BIGINT) AS fv,
        |    CAST(length(bin(CAST(sum(cents) AS BIGINT))) AS BIGINT)
        |      AS mv
        |  FROM p GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM u),
        |rc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM
        |  (SELECT rv AS v, count(*) AS cnt FROM u GROUP BY 1)),
        |fc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM
        |  (SELECT fv AS v, count(*) AS cnt FROM u GROUP BY 1)),
        |mc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM
        |  (SELECT mv AS v, count(*) AS cnt FROM u GROUP BY 1)),
        |rt AS (SELECT
        |  min(CASE WHEN cum >= (tot*20+99)//100 THEN v END) AS r20,
        |  min(CASE WHEN cum >= (tot*40+99)//100 THEN v END) AS r40,
        |  min(CASE WHEN cum >= (tot*60+99)//100 THEN v END) AS r60,
        |  min(CASE WHEN cum >= (tot*80+99)//100 THEN v END) AS r80
        |  FROM rc, tot),
        |ft AS (SELECT
        |  min(CASE WHEN cum >= (tot*20+99)//100 THEN v END) AS f20,
        |  min(CASE WHEN cum >= (tot*40+99)//100 THEN v END) AS f40,
        |  min(CASE WHEN cum >= (tot*60+99)//100 THEN v END) AS f60,
        |  min(CASE WHEN cum >= (tot*80+99)//100 THEN v END) AS f80
        |  FROM fc, tot),
        |mt AS (SELECT
        |  min(CASE WHEN cum >= (tot*20+99)//100 THEN v END) AS m20,
        |  min(CASE WHEN cum >= (tot*40+99)//100 THEN v END) AS m40,
        |  min(CASE WHEN cum >= (tot*60+99)//100 THEN v END) AS m60,
        |  min(CASE WHEN cum >= (tot*80+99)//100 THEN v END) AS m80
        |  FROM mc, tot),
        |sc AS (
        |  SELECT
        |    1 + (CASE WHEN rv > r20 THEN 1 ELSE 0 END)
        |      + (CASE WHEN rv > r40 THEN 1 ELSE 0 END)
        |      + (CASE WHEN rv > r60 THEN 1 ELSE 0 END)
        |      + (CASE WHEN rv > r80 THEN 1 ELSE 0 END) AS r_score,
        |    1 + (CASE WHEN fv > f20 THEN 1 ELSE 0 END)
        |      + (CASE WHEN fv > f40 THEN 1 ELSE 0 END)
        |      + (CASE WHEN fv > f60 THEN 1 ELSE 0 END)
        |      + (CASE WHEN fv > f80 THEN 1 ELSE 0 END) AS f_score,
        |    1 + (CASE WHEN mv > m20 THEN 1 ELSE 0 END)
        |      + (CASE WHEN mv > m40 THEN 1 ELSE 0 END)
        |      + (CASE WHEN mv > m60 THEN 1 ELSE 0 END)
        |      + (CASE WHEN mv > m80 THEN 1 ELSE 0 END) AS m_score
        |  FROM u, rt, ft, mt)
        |SELECT CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM sc GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin),
    Query("q258_decay_attribution", decayAttribution(_, _),
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
        |    value
        |  FROM events),
        |p AS (
        |  SELECT event_id AS p_id, user_id, ms AS p_ms,
        |    CAST(floor(value * 100) AS BIGINT) AS value_cents
        |  FROM ev WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id, ms AS c_ms
        |  FROM ev WHERE event_type = 'click'),
        |pr AS (
        |  SELECT p.p_id, c.c_id, p.value_cents,
        |    CAST((p.p_ms - c.c_ms) // 3600000 AS BIGINT) AS h
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.c_ms > p.p_ms - 86400000 AND c.c_ms < p.p_ms),
        |w AS (
        |  SELECT *, CAST(1 << CAST(23 - h AS INT) AS BIGINT) AS w
        |  FROM pr)
        |SELECT p_id, c_id, value_cents, h, w,
        |  CAST(sum(w) OVER (PARTITION BY p_id) AS BIGINT) AS total_w,
        |  CAST(w AS DOUBLE)
        |    / CAST(sum(w) OVER (PARTITION BY p_id) AS DOUBLE) AS credit
        |FROM w ORDER BY p_id, c_id""".stripMargin),
    Query("q257_top_paths", topPaths(_, _),
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |p AS (
        |  SELECT event_type AS s1,
        |    lead(event_type, 1) OVER w AS s2,
        |    lead(event_type, 2) OVER w AS s3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE s2 IS NOT NULL AND s3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, s1, s2, s3 LIMIT 10""".stripMargin),
    Query("q252_count_anomaly", countAnomaly(_, _),
      """WITH ev AS (
        |  SELECT event_type, ts::DATE AS d,
        |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h
        |  FROM events),
        |cts AS (
        |  SELECT event_type, d, h, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT t.event_type,
        |    CAST((dd.d - DATE '1970-01-01') AS BIGINT) * 24 + hh.h AS t,
        |    CAST(coalesce(cts.c, 0) AS BIGINT) AS c
        |  FROM (SELECT DISTINCT d FROM ev) dd
        |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT unnest(range(0, 24)) AS h) hh
        |  LEFT JOIN cts ON cts.event_type = t.event_type
        |    AND cts.d = dd.d AND cts.h = hh.h),
        |win AS (
        |  SELECT event_type, t, c,
        |    CAST(count(*) OVER w AS BIGINT) AS nw,
        |    CAST(sum(c) OVER w AS BIGINT) AS sw,
        |    CAST(sum(c * c) OVER w AS BIGINT) AS ssw
        |  FROM grid
        |  WINDOW w AS (PARTITION BY event_type ORDER BY t
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |f AS (
        |  SELECT event_type, t, c, sw, ssw,
        |    CASE WHEN 24 * ssw - sw * sw > 0 THEN
        |      CAST(24 * c - sw AS DOUBLE)
        |        / sqrt(CAST(24 * ssw - sw * sw AS DOUBLE))
        |    END AS z
        |  FROM win WHERE nw = 24)
        |SELECT event_type, t, c, sw, ssw, z,
        |  coalesce(abs(z) > 3.0, false) AS anomalous
        |FROM f ORDER BY event_type, t""".stripMargin),
    Query("q250_seasonal_naive", seasonalNaive(_, _),
      """WITH ev AS (
        |  SELECT event_type, ts::DATE AS d,
        |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h
        |  FROM events),
        |cts AS (
        |  SELECT event_type, d, h, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2, 3),
        |grid AS MATERIALIZED (
        |  SELECT t.event_type, dd.d, hh.h,
        |    CAST(coalesce(cts.c, 0) AS BIGINT) AS c,
        |    CAST((dd.d - DATE '1970-01-01') AS BIGINT) * 24 + hh.h AS t
        |  FROM (SELECT DISTINCT d FROM ev) dd
        |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT unnest(range(0, 24)) AS h) hh
        |  LEFT JOIN cts ON cts.event_type = t.event_type
        |    AND cts.d = dd.d AND cts.h = hh.h),
        |seas AS (
        |  SELECT a.event_type,
        |    CAST(sum(abs(a.c - b.c)) AS BIGINT) AS sae_seasonal,
        |    CAST(count(*) AS BIGINT) AS n_seasonal
        |  FROM grid a JOIN grid b
        |    ON b.event_type = a.event_type AND b.t = a.t - 24
        |  GROUP BY 1),
        |nv AS (
        |  SELECT a.event_type,
        |    CAST(sum(abs(a.c - b.c)) AS BIGINT) AS sae_naive1,
        |    CAST(count(*) AS BIGINT) AS n_naive1
        |  FROM grid a JOIN grid b
        |    ON b.event_type = a.event_type AND b.t = a.t - 1
        |  GROUP BY 1)
        |SELECT seas.event_type, seas.sae_seasonal, seas.n_seasonal,
        |  nv.sae_naive1, nv.n_naive1,
        |  (CAST(seas.sae_seasonal AS DOUBLE) * CAST(nv.n_naive1 AS DOUBLE))
        |    / (CAST(nv.sae_naive1 AS DOUBLE)
        |      * CAST(seas.n_seasonal AS DOUBLE)) AS mase_x_ratio
        |FROM seas JOIN nv USING (event_type)
        |ORDER BY event_type""".stripMargin),
    Query("q241_group_regression", groupRegression(_, _),
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
        |    CAST(value AS DECIMAL(18,2)) AS y
        |  FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y) AS DECIMAL(38,2)) AS sy,
        |    CAST(sum(x * y) AS DECIMAL(38,2)) AS sxy
        |  FROM e GROUP BY 1),
        |s AS (
        |  SELECT event_type, n, sx, sxx, sy, sxy,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        |  FROM g)
        |SELECT event_type, n, sx, sxx,
        |  CAST(sy AS DOUBLE) AS sy, CAST(sxy AS DOUBLE) AS sxy, slope,
        |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept
        |FROM s ORDER BY event_type""".stripMargin),
    Query("q234_session_builtin", sessionWindowBuiltin(_, _),
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |c AS (
        |  SELECT user_id, event_id, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL
        |      OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |i AS (
        |  SELECT user_id, ms,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM c),
        |g AS (
        |  SELECT user_id, sess,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(min(ms) AS BIGINT) AS start_ms,
        |    CAST(max(ms) AS BIGINT) AS last_ms
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, start_ms AS w_start_ms,
        |  last_ms + 1800000 AS w_end_ms,
        |  n_events, start_ms, last_ms
        |FROM g ORDER BY user_id, start_ms""".stripMargin),
    Query("q281_markov_stationary", markovStationary(_, _),
      markovStationarySql),
    Query("q295_growth_accounting", growthAccounting(_, _),
      """WITH ua AS (
        |  SELECT DISTINCT user_id,
        |    CAST((EXTRACT(year FROM ts) - 1970) * 12
        |      + EXTRACT(month FROM ts) - 1 AS BIGINT) AS mo
        |  FROM events),
        |tg AS (
        |  SELECT user_id, mo,
        |    lag(mo) OVER w AS prev, lead(mo) OVER w AS nxt
        |  FROM ua WINDOW w AS (PARTITION BY user_id ORDER BY mo)),
        |mx AS (SELECT max(mo) AS max_mo FROM ua),
        |st AS (
        |  SELECT mo, CASE WHEN prev IS NULL THEN 'new'
        |    WHEN prev = mo - 1 THEN 'retained'
        |    ELSE 'resurrected' END AS state
        |  FROM tg
        |  UNION ALL
        |  SELECT mo + 1 AS mo, 'churned' AS state
        |  FROM tg, mx
        |  WHERE (nxt IS NULL OR nxt > mo + 1) AND mo + 1 <= mx.max_mo)
        |SELECT mo,
        |  CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_resurrected,
        |  CAST(sum(CASE WHEN state = 'churned' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_churned
        |FROM st GROUP BY mo ORDER BY mo""".stripMargin),
    Query("q290_moving_median", movingMedian(_, _),
      s"""WITH ev AS (
         |  SELECT event_type, ts::DATE AS d,
         |    CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h
         |  FROM events),
         |cts AS (
         |  SELECT event_type, d, h, CAST(count(*) AS BIGINT) AS c
         |  FROM ev GROUP BY 1, 2, 3),
         |grid AS (
         |  SELECT t.event_type,
         |    CAST((dd.d - DATE '1970-01-01') AS BIGINT) * 24 + hh.h AS t,
         |    CAST(coalesce(cts.c, 0) AS BIGINT) AS c
         |  FROM (SELECT DISTINCT d FROM ev) dd
         |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
         |  CROSS JOIN (SELECT unnest(range(0, 24)) AS h) hh
         |  LEFT JOIN cts ON cts.event_type = t.event_type
         |    AND cts.d = dd.d AND cts.h = hh.h),
         |fr AS (
         |  SELECT event_type, t, c,
         |    list_sort(array_agg(c) OVER (PARTITION BY event_type
         |      ORDER BY t RANGE BETWEEN $MedHalf PRECEDING
         |        AND $MedHalf FOLLOWING)) AS frame
         |  FROM grid)
         |SELECT event_type, t, c,
         |  frame[CAST((len(frame) + 1) // 2 AS INT)] AS med,
         |  c - frame[CAST((len(frame) + 1) // 2 AS INT)] AS dev
         |FROM fr ORDER BY event_type, t""".stripMargin),
    Query("q228_transition_matrix", transitionMatrix(_, _),
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ms, event_id) AS to_type
        |  FROM e),
        |g AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS n_from,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
        |    AS prob
        |FROM g ORDER BY from_type, to_type""".stripMargin),
    Query("q229_ab_analysis", abAnalysis(_, _),
      """WITH e AS (
        |  SELECT user_id, event_type, value,
        |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
        |      1, 15))::BIGINT % 2 AS arm
        |  FROM events)
        |SELECT arm, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
        |    THEN user_id END) AS BIGINT) AS n_converters,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(value AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS purchase_value,
        |  CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
        |    THEN user_id END) AS DOUBLE)
        |    / CAST(count(DISTINCT user_id) AS DOUBLE) AS conv_rate
        |FROM e GROUP BY arm ORDER BY arm""".stripMargin),
    Query("q227_ordered_funnel", orderedFunnel(_, _),
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |s1 AS (
        |  SELECT user_id, CAST(min(ms) AS BIGINT) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, CAST(min(ms) AS BIGINT) AS t2
        |  FROM e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click'
        |    AND e.ms >= s1.t1 AND e.ms <= s1.t1 + 1800000
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, CAST(min(ms) AS BIGINT) AS t3
        |  FROM e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND e.ms >= s2.t2 AND e.ms <= s2.t2 + 1800000
        |  GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
        |    WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
        |    AS reached
        |FROM s1
        |LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin),
    // the interval relation is the q218 oracle embedded verbatim
    Query("q224_pit_join", pitJoin(_, _),
      s"""WITH p AS (
         |  SELECT event_id, user_id, epoch_ms(ts) + 30000 AS t
         |  FROM events)
         |SELECT p.event_id, p.user_id, p.t,
         |  i.event_type AS state_type, i.valid_from_ms
         |FROM p JOIN (
         |$Scd2Sql
         |) i ON i.user_id = p.user_id
         |  AND i.valid_from_ms <= p.t
         |  AND (i.valid_to_ms IS NULL OR p.t < i.valid_to_ms)
         |ORDER BY p.event_id""".stripMargin),
    Query("q217_dpp_join", dppJoin(_, _),
      """WITH dim AS (
        |  SELECT ts::DATE AS d FROM events
        |  GROUP BY 1 HAVING count(*) % 2 = 0)
        |SELECT CAST(ts::DATE AS VARCHAR) AS day, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN dim ON ts::DATE = dim.d
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    Query("q86_partition_prune", partitionPruned(_, _),
      """SELECT CAST(ts::DATE AS VARCHAR) AS day, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts::DATE BETWEEN '2024-01-10' AND '2024-01-12'
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    Query("q119_forward_fill", forwardFill(_, _),
      """WITH v AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_id % 7 < 2 THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, v,
        |  last(v IGNORE NULLS) OVER w AS v_filled,
        |  count(v) OVER w AS n_obs
        |FROM v
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),
    Query("q127_funnel", funnel(_, _),
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events),
        |s1 AS (
        |  SELECT user_id, event_id, event_type, ms,
        |    min(CASE WHEN event_type = 'view' THEN ms END) OVER w AS v_ms
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (
        |  SELECT user_id, event_id, event_type, ms, v_ms,
        |    min(CASE WHEN event_type = 'click' AND v_ms IS NOT NULL
        |        AND ms <= v_ms + 86400000 THEN ms END) OVER w AS c_ms
        |  FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |flags AS (
        |  SELECT user_id,
        |    max(CASE WHEN v_ms IS NOT NULL THEN 1 ELSE 0 END) AS f_view,
        |    max(CASE WHEN event_type = 'click' AND v_ms IS NOT NULL
        |        AND ms <= v_ms + 86400000 THEN 1 ELSE 0 END) AS f_vc,
        |    max(CASE WHEN event_type = 'purchase' AND c_ms IS NOT NULL
        |        AND ms <= c_ms + 86400000 THEN 1 ELSE 0 END) AS f_full
        |  FROM s2 GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(f_view) AS BIGINT) AS users_view,
        |  CAST(sum(f_vc) AS BIGINT) AS users_view_click,
        |  CAST(sum(f_full) AS BIGINT) AS users_full_funnel
        |FROM flags""".stripMargin),
    Query("q128_retention", retention(_, _),
      """WITH act AS (
        |  SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
        |SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
        |  date_diff('day', c.cohort_day, a.day) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM act a JOIN cohort c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q129_outliers", outliers(_, _),
      """WITH m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      / count(*) AS mean,
        |    (CAST(SUM(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE)
        |     - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |       * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |       / count(*))
        |    / (count(*) - 1) AS variance
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN (e.value - m.mean) * (e.value - m.mean)
        |      > 9 * m.variance THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM events e JOIN m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q130_time_weighted", timeWeightedAvg(_, _),
      """WITH g AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, value,
        |    lead(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_ms(ts) AS gap
        |  FROM events)
        |SELECT user_id, CAST(count(gap) AS BIGINT) AS n_gaps,
        |  CAST(sum(gap) AS BIGINT) AS sum_gap_ms,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) * gap) AS DOUBLE)
        |    / CAST(sum(gap) AS BIGINT) AS twa
        |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin),
    Query("q136_nearest_event", nearestClick(_, _),
      """SELECT e.event_id, e.user_id,
        |  (SELECT epoch_ms(c.ts) FROM events c
        |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
        |   ORDER BY abs(epoch_ms(c.ts) - epoch_ms(e.ts)), epoch_ms(c.ts)
        |   LIMIT 1) AS nearest_click_ms
        |FROM events e WHERE e.event_type = 'error'
        |ORDER BY e.event_id""".stripMargin))
}
