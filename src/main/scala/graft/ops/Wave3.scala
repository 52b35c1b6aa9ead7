package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Query, QueryModule, Tables}

/** Fifth coverage tier: map-typed columns, null-safe equality joins,
  * bounded sliding ROWS frames, and the value window-function family
  * (first/last/nth). All scalar outputs (cross-engine array/map
  * comparison is representation-sensitive; extraction is the portable
  * contract). */
object Wave3 extends QueryModule {

  private val D = DecimalType(18, 2)
  private val D28 = DecimalType(28, 2)

  /** q78: map construction + extraction — build a map column, extract
    * present and missing keys (missing → NULL, not error), measure
    * cardinality. DuckDB's map extraction returns a list; `[1]`
    * unwraps to the same scalar contract. */
  def mapFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .withColumn("m", map(
        lit("status"), col("o_orderstatus"),
        lit("prio"), col("o_orderpriority")))
      .select(
        col("o_orderkey"),
        element_at(col("m"), "status").as("status_v"),
        element_at(col("m"), "missing").as("missing_v"),
        element_at(col("m"), "prio").isNotNull.as("has_prio"),
        size(col("m")).cast("long").as("n_entries"))
      .orderBy("o_orderkey")

  /** q79: null-safe equality join (`<=>` / IS NOT DISTINCT FROM) —
    * NULL keys match each other instead of vanishing from the join.
    * Keys are nulled for one nation so both the null-bucket and the
    * regular buckets are exercised; output is pair counts per key. */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
      .select(nullif(col("c_nationkey"), lit(7)).as("k1"))
    val p = Tables.load(s, dir, "supplier")
      .select(nullif(col("s_nationkey"), lit(7)).as("k2"))
    c.join(p, col("k1") <=> col("k2"))
      .groupBy(coalesce(col("k1"), lit(-1)).as("nk"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("nk")
  }

  /** q80: bounded sliding ROWS frame — 4-row moving average of order
    * totals per customer (exact decimal sum / frame count; the double
    * division happens once per row, identically in both engines). */
  def movingRowsFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-3, 0)
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      count(lit(1)).over(w).as("n_win"),
      (sum(col("o_totalprice").cast(D)).over(w).cast("double") /
        count(lit(1)).over(w)).as("avg_price_4"))
      .orderBy("o_orderkey")
  }

  /** q81: value window functions — first/last/nth order total per
    * customer over the FULL partition frame (the default running frame
    * makes last_value useless-by-surprise; the explicit frame is the
    * deterministic contract). */
  def valueFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      first(col("o_totalprice")).over(w).as("first_price"),
      last(col("o_totalprice")).over(w).as("last_price"),
      nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_orderkey")
  }

  /** q82: remaining scalar families — edit distance (levenshtein),
    * bitwise and/or/xor/shifts/popcount, and multi-arg greatest/least.
    * All engine-built-ins with identical cross-engine definitions. */
  def miscScalars(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part").select(
      col("p_partkey"),
      levenshtein(col("p_brand"), col("p_type")).as("edit_dist"),
      (col("p_partkey").bitwiseAND(lit(255L))).as("b_and"),
      (col("p_partkey").bitwiseOR(lit(16L))).as("b_or"),
      (col("p_partkey").bitwiseXOR(lit(85L))).as("b_xor"),
      shiftleft(col("p_partkey"), 3).as("b_shl"),
      shiftright(col("p_partkey"), 2).as("b_shr"),
      bit_count(col("p_partkey")).as("popcount"),
      greatest(col("p_size"), col("p_retailprice"), lit(50.0)).as("g3"),
      least(col("p_size"), col("p_retailprice"), lit(50.0)).as("l3"))
      .orderBy("p_partkey")

  /** q84: the sketch-based scale path — approx_count_distinct (HLL++)
    * and approx_percentile per group. Sketch ESTIMATES are
    * implementation-defined, so the output carries only cross-engine
    * columns: the exact values (fine at gate scale, impossible at
    * 100 TB) plus boolean IN-BOUND flags computed from the sketches.
    * The oracle emits literal TRUE for each flag — if a Spark sketch
    * ever violates its bound the flag flips and the hash gate fails,
    * so the error bound itself is what's differential-tested. Bounds
    * asserted: HLL++ within 3·rsd = 15% (observed ≪);
    * approx_percentile(…, 10000) rank error ≤ 1/10000, witnessed as
    * value-relative error ≤ 5% on this distribution. This is what
    * q29/q54 become at 100 TB, where exact distinct/percentile
    * shuffles don't fit. */
  def approxStats(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    // The exact distinct count runs as its OWN aggregation, joined back
    // (3-row broadcast): mixing a DISTINCT aggregate with the sketch
    // aggregates makes the planner route everything through an Expand
    // (one duplicated row-set per distinct group) — measured 10× slower
    // than two clean scans.
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
    li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.05)
          .as("approx_orders"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)")
          .as("approx_p50_p90"),
        expr("percentile(l_extendedprice, array(0.5, 0.9))")
          .as("exact_p50_p90"),
        count(lit(1)).as("n"))
      .join(broadcast(exact), "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"),
        col("approx_orders"),
        col("approx_p50_p90").getItem(0).as("ap50"),
        col("exact_p50_p90").getItem(0).as("ep50"),
        col("approx_p50_p90").getItem(1).as("ap90"),
        col("exact_p50_p90").getItem(1).as("ep90"), col("n"))
      .select(col("l_returnflag"), col("exact_orders"), col("n"),
        col("ep50"), col("ep90"),
        (abs(col("approx_orders") - col("exact_orders")) /
          col("exact_orders") <= 0.15).as("cd_in_bound"),
        (abs(col("ap50") - col("ep50")) / col("ep50") <= 0.05)
          .as("p50_in_bound"),
        (abs(col("ap90") - col("ep90")) / col("ep90") <= 0.05)
          .as("p90_in_bound"))
      .orderBy("l_returnflag")
  }

  /** q85: generator/UDTF surface — posexplode_outer over arrays that
    * are genuinely empty for some rows (tokens longer than 7 chars,
    * first 3): outer semantics keep the row with NULL pos/tok instead
    * of dropping it. DuckDB spelling is LEFT JOIN LATERAL unnest with
    * generate_subscripts; NULLS FIRST aligns the null-position rows
    * with Spark's default ascending order. */
  def generators(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("arr", expr(
        "slice(filter(split(trim(text), '\\\\s+'), t -> length(t) > 7), 1, 3)"))
      .select(col("doc_id"), posexplode_outer(col("arr")).as(Seq("pos", "tok")))
      .orderBy("doc_id", "pos")

  /** q99: fixed-width histogram — the data-profiling primitive (one
    * scan, map-side bucket assignment, tiny shuffle of partial counts;
    * out-of-range values clamp into the edge buckets). Integer bucket
    * arithmetic from one double division+floor — IEEE-identical
    * cross-engine. */
  def histogram(s: SparkSession, dir: String, lo: Double = 0.0,
                hi: Double = 120000.0, buckets: Int = 24): DataFrame = {
    val width = (hi - lo) / buckets
    val bucket = least(greatest(
      floor((col("l_extendedprice") - lo) / width), lit(0.0)),
      lit((buckets - 1).toDouble)).cast("long")
    Tables.load(s, dir, "lineitem")
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (lit(lo) + col("bucket") * width).as("lo_edge"),
        (lit(lo) + (col("bucket") + 1) * width).as("hi_edge"),
        col("n"))
      .orderBy("bucket")
  }

  /** q100: the custom whole-operator Catalyst extension
    * (graft.plans.TopK — LogicalPlan + Strategy + physical heap top-k)
    * on the q15 shape, oracle-checked against the window spelling it
    * replaces: same rows, O(n log k) and no sort spill instead of a
    * full per-partition sort. */
  def topkCustom(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.topKPerGroup(
      Tables.load(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice")),
      Seq("p_brand"), "p_retailprice", "p_partkey", k = 3)
      .orderBy(col("p_brand"), col("p_retailprice").desc, col("p_partkey"))

  /** q134: percent-of-total (ratio-to-report) — each nation's revenue
    * as a share of its REGION's total: the classic reporting window.
    * The share window runs AFTER aggregation over the 25-row nation
    * relation (the q112 tiny-window discipline — never a window over
    * raw fact rows); revenue sums are exact decimals on both engines,
    * cast to double only for the final division, so the shares are
    * bit-identical. Star join: fact shuffles once on custkey; the
    * three dims broadcast. */
  def pctOfTotal(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "orders")
      .join(broadcast(Tables.load(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("o_totalprice").cast(D28)).as("rev_d"))
    val byRegion = Window.partitionBy(col("r_name"))
    rev.select(col("r_name"), col("n_name"),
        col("rev_d").cast("double").as("revenue"),
        (col("rev_d").cast("double") /
          sum(col("rev_d")).over(byRegion).cast("double"))
          .as("region_share"))
      .orderBy("r_name", "n_name")
  }

  /** q135: period-over-period growth — monthly revenue with the MoM
    * delta ratio: the other classic reporting window q134 doesn't
    * cover (lag across ORDERED periods vs share within a partition).
    * The lag window is unpartitioned BY DESIGN over the ~tens-of-rows
    * aggregated month relation (the q112/q134 tiny-window
    * discipline); the fact scan aggregates with exact decimal sums
    * and the growth ratio divides identical doubles in both engines
    * (first month's null lag propagates to a null growth, data not
    * error). */
  def momGrowth(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.load(s, dir, "orders")
      .groupBy(date_format(date_trunc("month", col("o_orderdate")),
        "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(D28)).as("rev_d"))
    // ≤ |months| rows (post-groupBy month relation — calendar-bounded,
    // corpus-size-free): intentionally-unpartitioned window
    val w = Window.orderBy(col("month"))
    m.select(col("month"), col("n_orders"),
        col("rev_d").cast("double").as("revenue"),
        lag(col("rev_d"), 1).over(w).cast("double").as("prev_revenue"))
      .withColumn("mom_growth",
        (col("revenue") - col("prev_revenue")) / col("prev_revenue"))
      .orderBy("month")
  }

  lazy val records: Seq[Query] = Seq(
    Query("q135_mom_growth", momGrowth(_, _),
      """WITH m AS (
        |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
        |    AS month,
        |    CAST(count(*) AS BIGINT) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS rev_d
        |  FROM orders GROUP BY 1)
        |SELECT month, n_orders, CAST(rev_d AS DOUBLE) AS revenue,
        |  CAST(lag(rev_d) OVER (ORDER BY month) AS DOUBLE)
        |    AS prev_revenue,
        |  (CAST(rev_d AS DOUBLE)
        |   - CAST(lag(rev_d) OVER (ORDER BY month) AS DOUBLE))
        |    / CAST(lag(rev_d) OVER (ORDER BY month) AS DOUBLE)
        |    AS mom_growth
        |FROM m ORDER BY month""".stripMargin),
    Query("q134_pct_of_total", pctOfTotal(_, _),
      """WITH rev AS (
        |  SELECT r.r_name, n.n_name,
        |    SUM(CAST(o.o_totalprice AS DECIMAL(28,2))) AS rev_d
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, CAST(rev_d AS DOUBLE) AS revenue,
        |  CAST(rev_d AS DOUBLE) /
        |    CAST(SUM(rev_d) OVER (PARTITION BY r_name) AS DOUBLE)
        |    AS region_share
        |FROM rev ORDER BY r_name, n_name""".stripMargin),
    Query("q84_approx_stats", approxStats(_, _),
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  count(*) AS n,
        |  quantile_cont(l_extendedprice, 0.5) AS ep50,
        |  quantile_cont(l_extendedprice, 0.9) AS ep90,
        |  TRUE AS cd_in_bound,
        |  TRUE AS p50_in_bound,
        |  TRUE AS p90_in_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q100_topk_plan", topkCustom(_, _),
      """SELECT p_brand, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) t
        |WHERE rn <= 3
        |ORDER BY p_brand, p_retailprice DESC, p_partkey""".stripMargin),
    Query("q99_histogram", histogram(_, _),
      """WITH b AS (
        |  SELECT CAST(LEAST(GREATEST(
        |    floor((l_extendedprice - 0.0) / 5000.0), 0.0), 23.0) AS BIGINT)
        |    AS bucket
        |  FROM lineitem)
        |SELECT bucket, 0.0 + bucket * 5000.0 AS lo_edge,
        |  0.0 + (bucket + 1) * 5000.0 AS hi_edge, count(*) AS n
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    Query("q85_generators", generators(_, _),
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '[ \t\n\v\f\r]+'),
        |      t -> length(t) > 7)[1:3] AS arr
        |  FROM documents)
        |SELECT d.doc_id, u.pos, u.tok
        |FROM d LEFT JOIN LATERAL (
        |  SELECT unnest(arr) AS tok,
        |    generate_subscripts(arr, 1) - 1 AS pos) u ON true
        |ORDER BY d.doc_id, u.pos NULLS FIRST""".stripMargin),
    Query("q82_misc_scalars", miscScalars(_, _),
      """SELECT p_partkey,
        |  levenshtein(p_brand, p_type) AS edit_dist,
        |  p_partkey & 255 AS b_and,
        |  p_partkey | 16 AS b_or,
        |  xor(p_partkey, 85) AS b_xor,
        |  p_partkey << 3 AS b_shl,
        |  p_partkey >> 2 AS b_shr,
        |  bit_count(p_partkey) AS popcount,
        |  greatest(p_size, p_retailprice, 50.0) AS g3,
        |  least(p_size, p_retailprice, 50.0) AS l3
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("q78_map_funcs", mapFuncs(_, _),
      """SELECT o_orderkey,
        |  m['status'][1] AS status_v,
        |  m['missing'][1] AS missing_v,
        |  m['prio'][1] IS NOT NULL AS has_prio,
        |  CAST(cardinality(m) AS BIGINT) AS n_entries
        |FROM (
        |  SELECT o_orderkey,
        |    MAP {'status': o_orderstatus, 'prio': o_orderpriority} AS m
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin),
    Query("q79_null_safe_join", nullSafeJoin(_, _),
      """SELECT coalesce(k1, -1) AS nk, count(*) AS n_pairs
        |FROM (SELECT nullif(c_nationkey, 7) AS k1 FROM customer) c
        |JOIN (SELECT nullif(s_nationkey, 7) AS k2 FROM supplier) p
        |  ON k1 IS NOT DISTINCT FROM k2
        |GROUP BY 1 ORDER BY nk""".stripMargin),
    Query("q80_moving_rows", movingRowsFrame(_, _),
      """SELECT o_orderkey, o_custkey,
        |  count(*) OVER w AS n_win,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS avg_price_4
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin),
    Query("q81_value_funcs", valueFuncs(_, _),
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin))
}
