package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Query, QueryModule, Tables}
import graft.util.{Exact, Scratch}

/** Fourth coverage tier — the remaining relational/source surface:
  * full-outer join, RANGE-frame moving aggregates, exact correlation
  * from power sums, multiset set-ops (EXCEPT/INTERSECT ALL), unpivot,
  * CSV/JSON source round-trips (the S2 ingest path under a data-level
  * differential gate), ordered string aggregation, and the boolean/
  * conditional aggregate family.
  *
  * Scale notes: every aggregate here partial-aggregates map-side; the
  * full-outer join shuffles two pre-aggregated (tiny) sides, not the
  * base tables; the RANGE frame sorts once per user partition; the
  * round-trips write through executor-parallel files, never the driver.
  */
object Wave2 extends QueryModule {

  private val D = DecimalType(18, 2)

  /** q65: FULL OUTER join of two pre-aggregated sides with partially
    * disjoint keys (high-balance customers vs high-balance suppliers
    * per nation) — exercises null-producing both-side semantics. */
  def fullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
      .where(col("c_acctbal") > 9500)
      .groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val p = Tables.load(s, dir, "supplier")
      .where(col("s_acctbal") > 8000)
      .groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(p, col("ck") === col("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  /** q66: moving aggregate over a RANGE frame — per user, count and
    * exact sum of event values in the trailing hour (peers at the same
    * millisecond share a frame in both engines). */
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-3600000L, 0L)
    Tables.load(s, dir, "events")
      .withColumn("ms", unix_millis(col("ts")))
      .select(col("event_id"), col("user_id"), col("ms"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast(D)).over(w).cast("double").as("sum_1h"))
      .orderBy("event_id")
  }

  /** q67: exact Pearson correlation + population covariance from
    * decimal power sums; the final combination is row-level double
    * arithmetic, mirrored character-for-character in the oracle so the
    * IEEE operation sequence is identical. The outputs are rounded
    * (cov 4dp, corr 9dp): power sums here exceed 2^52 decimal quanta,
    * and decimal→double conversion of such values is correctly rounded
    * on the JVM but not guaranteed so in other engines — a 1-ulp input
    * wobble (observed vs DuckDB at sf0.001) survives to the final
    * double, and rounding to a grid 10^7 above ulp scale collapses
    * it deterministically. */
  def corrFromSums(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        Exact.dsum(col("l_quantity")).as("sx"),
        Exact.dsum(col("l_extendedprice")).as("sy"),
        Exact.dsumProd(col("l_quantity"), col("l_quantity")).as("sxx"),
        Exact.dsumProd(col("l_quantity"), col("l_extendedprice")).as("sxy"),
        Exact.dsumProd(col("l_extendedprice"), col("l_extendedprice")).as("syy"))
      .select(col("l_returnflag"),
        col("n").cast("long").as("n_rows"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 4)
          .as("cov_pop"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt(col("n") * col("sxx") - col("sx") * col("sx")) /
          sqrt(col("n") * col("syy") - col("sy") * col("sy")), 9).as("corr"))
      .orderBy("l_returnflag")

  /** q68: multiset set operations — EXCEPT ALL keeps multiplicity
    * differences, INTERSECT ALL keeps common multiplicity; both tagged
    * and unioned into one result. */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val a = o.where(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("k"))
    val b = o.where(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
    a.exceptAll(b).withColumn("op", lit("except_all"))
      .unionByName(a.intersectAll(b).withColumn("op", lit("intersect_all")))
      .select(col("op"), col("k"))
      .orderBy("op", "k")
  }

  /** q69: unpivot/melt — wide per-flag aggregates to (flag, measure,
    * value) long form. */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(Exact.dsum(col("l_quantity")).as("sum_qty"),
        Exact.dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).cast("double").as("n_rows"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_rows")),
        "measure", "val")
      .orderBy("l_returnflag", "measure")
  }

  /** q71: CSV source round-trip — write `customer` as headered CSV
    * (executor-parallel), read it back under the explicit schema, and
    * diff against the parquet original via the oracle. This is the S2
    * ingest path (schema'd CSV read) under a data-level gate: header
    * handling, quoting, and numeric round-tripping must all be exact.
    * NOTE an explicit schema on a CSV read binds POSITIONALLY (header
    * names are skipped, not matched) — safe here because the write
    * emits columns in schema order. */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
    val out = Scratch.zone(s, "csv_customer")
    cust.write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true").schema(cust.schema).csv(out)
      .orderBy("c_custkey")
  }

  /** q204: ORC write→read round trip — the third columnar surface
    * next to q71's CSV and q72's JSON (Spark's built-in ORC writer;
    * types survive natively, so no schema re-imposition is needed —
    * read-side schema comes from the ORC footer). The read is
    * filtered to prove ORC predicate pushdown is live on the served
    * copy (PushedFilters pinned in PlanAuditSpec). */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
    val out = Scratch.zone(s, "orc_part")
    p.write.mode("overwrite").orc(out)
    s.read.orc(out)
      .where(col("p_size") >= 25)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size"), col("p_retailprice"))
      .orderBy("p_partkey")
  }

  /** q72: JSON-lines source round-trip — `orders` through JSON and
    * back under the explicit schema; timestamps surface as epoch ms so
    * the comparison is integer-exact. */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val out = Scratch.zone(s, "json_orders")
    // r14 probe note: spreadScan before this write was tried (q308's
    // one-row-group fix) and REVERTED on measurement — JSON
    // serialization of this table is cheaper than the round-robin
    // exchange plus 32-file commit/read-back it buys (A/B probe with
    // q07 as load control: 1.10 -> 1.36 s; bench pair 0.81 -> 1.21 s).
    // The spread pays only where per-row CPU dominates (q308, q149).
    o.write.mode("overwrite").json(out)
    s.read.schema(o.schema).json(out)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), unix_millis(col("o_orderdate")).as("odate_ms"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** q73: ordered string aggregation — deterministic LISTAGG via
    * sort-then-join (collect_list alone is partition-order-dependent;
    * array_sort makes it reproducible at any parallelism). */
  def stringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(array_join(array_sort(collect_list(col("c_name"))), ",")
          .as("names"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey")

  /** q74: conditional/boolean aggregate family — count_if, bool_and,
    * bool_or per group. */
  def boolAgg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("count_if(l_discount > 0.05)").as("n_disc"),
        expr("bool_and(l_quantity > 0)").as("all_pos_qty"),
        expr("bool_or(l_discount > 0.09)").as("any_deep_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** q75: safe-casting surface — try_cast returns NULL on malformed
    * input instead of raising (ANSI mode makes plain CAST throw; a
    * 100 TB load must divert bad cells, not die). Failures are kept to
    * ~1% of rows BY DESIGN: Spark's try_cast is exception-based per
    * failing row (an all-failing column cost ~10 µs/row — measured
    * 6 s at sf0.1), so the safe cast belongs on mostly-clean columns;
    * an always-garbage column should be regex-guarded instead. */
  def tryCastSurface(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"),
      expr("try_cast(split_part(o_orderpriority, '-', 1) AS INT)")
        .as("prio_num"),
      expr("try_cast(o_totalprice AS DECIMAL(18,2))").cast("double")
        .as("price_dec"),
      expr("""try_cast(CASE WHEN o_orderkey % 100 = 0 THEN o_orderstatus
             |  ELSE CAST(o_orderkey % 1000 AS STRING) END AS INT)"""
        .stripMargin).as("mixed_num"))
      .orderBy("o_orderkey")

  /** q76: calendar gap-fill — per-user daily counts INCLUDING empty
    * days, via sequence() over the user's [min_day, max_day] span
    * exploded and left-joined back. The time-series densification every
    * pipeline needs; integer day numbers keep it engine-exact. */
  def gapFillDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("user_id"),
        (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
    val span = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    span.select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("user_id", "day")
  }

  /** q77: typed Dataset aggregation through a custom `Aggregator`
    * (graft.functions.ExactStats) — groupByKey over a case-class-ish
    * tuple Dataset, exact decimal buffer, deterministic at any
    * parallelism. The typed mirror of the untyped Exact.dsum recipe. */
  def typedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.ExactStats
    Tables.load(s, dir, "events")
      .select(col("event_type"), col("value")).as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(ExactStats.toColumn.name("stats"))
      .select(col("key").as("event_type"),
        col("stats._1").as("n"), col("stats._2").as("sum_value"))
      .orderBy("event_type")
  }

  /** q231: the custom DataSource V2 path under the hash gate — an
    * aggregate over [[graft.sources.SeqSource]] with a range filter
    * (pushed into the source: out-of-range partitions are never
    * planned — SeqSourceSpec pins the count) and column pruning. The
    * oracle replays the synthetic sequence via DuckDB `range()`, so
    * the whole custom-source read path — schema, pushdown arithmetic,
    * partition slicing, row materialization — is cross-engine
    * certified like any parquet-backed operator. */
  def dsv2Source(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", "100000").option("parts", "8").load()
      .where(col("id") >= 20000 && col("id") < 60000)
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n_rows"), sum(col("sq")).as("sum_sq"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy("tag")

  /** q303: DSv2 AGGREGATE pushdown under the gate — q231's source
    * answering COUNT(*)/MIN/MAX over a filtered range entirely from
    * closed-form arithmetic ([[graft.sources.SeqSource]]'s
    * SupportsPushDownAggregates): Spark plans NO aggregate node (the
    * scan emits the one result row — PlanAuditSpec pins the absence
    * of HashAggregate), the custom-source analog of answering
    * count/min/max from parquet footers without touching data. The
    * oracle replays the same aggregate over `range()`. */
  def dsv2AggPushdown(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", "100000").option("parts", "8").load()
      .where(col("id") >= 20000 && col("id") < 60000)
      .agg(count(lit(1)).as("n_rows"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))

  /** q304: DSv2 TOP-N pushdown under the gate — ORDER BY id DESC
    * LIMIT 5 over the filtered sequence shrinks the scanned range to
    * the five qualifying ids at the SOURCE (SupportsPushDownTopN:
    * closed-form range arithmetic again; partial push, so Spark
    * still orders the 5 survivors — SeqSourceSpec pins that exactly
    * one 5-row chunk is planned). The paging idiom every serving
    * layer runs, answered index-style. */
  def dsv2TopNPushdown(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", "100000").option("parts", "8").load()
      .where(col("id") >= 20000 && col("id") < 60000)
      .orderBy(col("id").desc)
      .limit(5)

  /** q233: the DSv2 WRITE path under the gate — slim documents pushed
    * through [[graft.sources.ManifestSink]]'s task/driver two-phase
    * commit (8 hash partitions), then the committed `manifest.json`
    * read back: its file count, row total, and XOR digest must equal
    * the DuckDB-side aggregate of the same payload. Every layer of
    * the sink — row encoding, per-task digest, temp+rename task
    * commit, driver manifest commit — sits under the hash check. */
  def manifestSink(s: SparkSession, dir: String): DataFrame = {
    val out = Scratch.zone(s, "manifest_sink")
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .repartition(8, col("doc_id"))
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("overwrite").save()
    s.read.json(s"$out/manifest.json")
      .select(col("n_files").cast("long").as("n_files"),
        col("total_rows").cast("long").as("total_rows"),
        col("total_digest").cast("long").as("total_digest"))
  }

  lazy val records: Seq[Query] = Seq(
    // the manifest totals replayed from the payload: 8 non-empty hash
    // partitions, exact row count, XOR of the q225 row-hash spelling
    Query("q233_manifest_sink", manifestSink(_, _),
      """SELECT CAST(8 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS total_rows,
        |  bit_xor(('0x' || substr(md5(concat_ws('|',
        |    CAST(doc_id AS VARCHAR), source,
        |    CAST(n_chars AS VARCHAR))), 1, 15))::BIGINT)
        |    AS total_digest
        |FROM documents""".stripMargin),
    Query("q304_dsv2_topn_pushdown", dsv2TopNPushdown(_, _),
      """SELECT id, CAST((id * id) % 97 AS BIGINT) AS sq,
        |  CAST(id % 7 AS VARCHAR) AS tag
        |FROM range(100000) t(id)
        |WHERE id >= 20000 AND id < 60000
        |ORDER BY id DESC LIMIT 5""".stripMargin),
    Query("q303_dsv2_agg_pushdown", dsv2AggPushdown(_, _),
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(id) AS BIGINT) AS min_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM range(100000) t(id)
        |WHERE id >= 20000 AND id < 60000""".stripMargin),
    // the synthetic sequence replayed via range(): same id domain,
    // same derived columns, same filter — engine-independent truth
    Query("q231_dsv2_source", dsv2Source(_, _),
      """SELECT CAST(id % 7 AS VARCHAR) AS tag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum((id * id) % 97) AS BIGINT) AS sum_sq,
        |  CAST(min(id) AS BIGINT) AS min_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM range(100000) t(id)
        |WHERE id >= 20000 AND id < 60000
        |GROUP BY 1 ORDER BY tag""".stripMargin),
    Query("q75_try_cast", tryCastSurface(_, _),
      """SELECT o_orderkey,
        |  TRY_CAST(split_part(o_orderpriority, '-', 1) AS INT) AS prio_num,
        |  CAST(TRY_CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
        |  TRY_CAST(CASE WHEN o_orderkey % 100 = 0 THEN o_orderstatus
        |    ELSE CAST(o_orderkey % 1000 AS VARCHAR) END AS INT) AS mixed_num
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("q76_gap_fill", gapFillDaily(_, _),
      """WITH daily AS (
        |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY 1),
        |days AS (
        |  SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span)
        |SELECT days.user_id, days.day, coalesce(daily.n, 0) AS n
        |FROM days LEFT JOIN daily
        |  ON days.user_id = daily.user_id AND days.day = daily.day
        |ORDER BY days.user_id, days.day""".stripMargin),
    Query("q77_typed_agg", typedAgg(_, _),
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),
    Query("q65_full_outer", fullOuter(_, _),
      """SELECT coalesce(c.ck, p.sk) AS nationkey,
        |  coalesce(c.n_cust, 0) AS n_cust,
        |  coalesce(p.n_supp, 0) AS n_supp
        |FROM
        |  (SELECT c_nationkey AS ck, count(*) AS n_cust FROM customer
        |   WHERE c_acctbal > 9500 GROUP BY 1) c
        |FULL OUTER JOIN
        |  (SELECT s_nationkey AS sk, count(*) AS n_supp FROM supplier
        |   WHERE s_acctbal > 8000 GROUP BY 1) p
        |ON c.ck = p.sk
        |ORDER BY nationkey""".stripMargin),
    Query("q66_range_frame", rangeFrame(_, _),
      """SELECT event_id, user_id, epoch_ms(ts) AS ms,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
    Query("q67_corr", corrFromSums(_, _),
      """WITH sums AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |             CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |  CAST(n AS BIGINT) AS n_rows,
        |  round((sxy - sx * sy / n) / n, 4) AS cov_pop,
        |  round((n * sxy - sx * sy) / sqrt(n * sxx - sx * sx)
        |    / sqrt(n * syy - sy * sy), 9) AS corr
        |FROM sums ORDER BY l_returnflag""".stripMargin),
    Query("q68_setops_all", setOpsAll(_, _),
      """SELECT * FROM (
        |  SELECT 'except_all' AS op, k FROM (
        |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
        |    EXCEPT ALL
        |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
        |  UNION ALL
        |  SELECT 'intersect_all' AS op, k FROM (
        |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
        |    INTERSECT ALL
        |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'))
        |ORDER BY op, k""".stripMargin),
    Query("q69_unpivot", unpivotMeasures(_, _),
      """SELECT l_returnflag, measure, val FROM (
        |  UNPIVOT (
        |    SELECT l_returnflag,
        |      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |      CAST(count(*) AS DOUBLE) AS n_rows
        |    FROM lineitem GROUP BY 1)
        |  ON sum_qty, sum_price, n_rows INTO NAME measure VALUE val)
        |ORDER BY l_returnflag, measure""".stripMargin),
    Query("q71_csv_roundtrip", csvRoundtrip(_, _),
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin),
    Query("q72_json_roundtrip", jsonRoundtrip(_, _),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  epoch_ms(o_orderdate) AS odate_ms, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("q204_orc_roundtrip", orcRoundtrip(_, _),
      """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
        |FROM part WHERE p_size >= 25 ORDER BY p_partkey""".stripMargin),
    Query("q73_string_agg", stringAgg(_, _),
      """SELECT c_nationkey,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names,
        |  count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY c_nationkey""".stripMargin),
    Query("q74_bool_agg", boolAgg(_, _),
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |  bool_and(l_quantity > 0) AS all_pos_qty,
        |  bool_or(l_discount > 0.09) AS any_deep_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin))
}
