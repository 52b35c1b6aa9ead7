package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.util.{Exact, Ordered}

/** Second tier of relational/scalar coverage: set ops, CUBE, exact
  * distinct counts, scalar string/date function families, cross join,
  * and moment-based statistics computed from exact decimal power sums
  * (the only way stddev/variance hash-match across engines — built-in
  * stddev accumulates doubles in engine-specific order). */
object Extras extends QueryModule {

  /** INTERSECT: customers appearing in both filter sets. */
  def intersectKeys(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val hi = c.where(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
    val seg = c.where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    hi.intersect(seg).orderBy("k")
  }

  /** EXCEPT: high-balance customers NOT in the segment. */
  def exceptKeys(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val hi = c.where(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
    val seg = c.where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    hi.except(seg).orderBy("k")
  }

  /** CUBE over two dimensions (all 4 grouping sets in one pass). */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Exact COUNT(DISTINCT) per group — expands to a two-phase
    * aggregation; at 100 TB scale swap for approx_count_distinct when
    * 2% error is acceptable (HLL sketches differ per engine, so the
    * exact form is the oracle-checkable one). */
  def countDistinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Scalar string-function family over part names. */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("u"),
      lower(col("p_brand")).as("l"),
      substring(col("p_name"), 1, 5).as("pre"),
      length(col("p_name")).as("len"),
      concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"),
      instr(col("p_type"), "E").as("epos"),
      lpad(col("p_brand"), 12, "#").as("padded"))
      .orderBy("p_partkey")

  /** Scalar date-function family over order dates. Dates are emitted
    * as formatted strings / integer day counts so both engines hash
    * identical primitives. */
  def dateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      quarter(col("o_orderdate")).as("q"),
      dayofmonth(col("o_orderdate")).as("dom"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso"),
      date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd")
        .as("plus30"),
      date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
      datediff(lit("1998-01-01").cast("date"),
        col("o_orderdate").cast("date")).as("days_to_98"))
      .orderBy("o_orderkey")

  /** Cross join of two small dims (the only place a cartesian product
    * is legitimate: both sides tiny and bounded). */
  def crossJoinDims(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "region")
      .crossJoin(Tables.load(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .orderBy("r_name", "n_name")

  /** Variance/stddev from exact decimal power sums: S1=Σx, S2=Σx² are
    * exact (quantity ≤ 50 → x² ≤ 2500, 2dp), so
    * var = (S2 − S1²/n)/(n−1) is one fixed double expression — the
    * same bits in any engine, at any parallelism. */
  def momentStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val D = DecimalType(28, 4)
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(col("l_quantity")).as("n"),
        sum(col("l_quantity").cast(D)).cast("double").as("s1"),
        sum((col("l_quantity") * col("l_quantity")).cast(D)).cast("double")
          .as("s2"))
      .select(col("l_returnflag"), col("n"),
        (col("s1") / col("n")).as("mean"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("variance"))
      .orderBy("l_returnflag")
  }

  /** Salted two-phase aggregation: the skew-mitigation pattern for
    * hot grouping keys. Phase 1 groups on (key, salt) — a skewed key's
    * rows spread over 16 reducers; phase 2 merges the partials. The
    * result is IDENTICAL to a plain GROUP BY (the oracle), which is
    * the point: salting changes the shuffle layout, not the answer. */
  def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val D = DecimalType(18, 2)
    Tables.load(s, dir, "events")
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value").cast(D)).as("psum"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"),
        sum(col("psum")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** BPE-ish tokenization: letter runs, digit runs, and single
    * punctuation marks as separate token classes (the pre-tokenizer
    * split BPE vocabularies build on) — counted per document with one
    * regex pass per class. */
  def bpeTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
        .as("n_word_tokens"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
        .as("n_digit_tokens"),
      // explicit whitespace class, not \s: Java \s includes U+000B,
      // RE2/DuckDB \s does not (the Tokens.whitespace discipline)
      size(regexp_extract_all(col("text"),
          lit("[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"), lit(0)))
        .as("n_punct_tokens"))
      .orderBy("doc_id")

  /** Exact interpolated percentiles — Spark `percentile` and DuckDB
    * `quantile_cont` share linear-interpolation semantics and produce
    * bit-identical doubles (verified empirically, including the
    * ...99999 ulp tails). At 100 TB swap for approx_percentile and
    * drop the oracle. */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        // one buffer for both l_extendedprice percentiles: the
        // array form sorts the group's values once and interpolates
        // both points, instead of two independent full buffers
        expr("percentile(l_extendedprice, array(0.9, 0.25))").as("pp"))
      .select(col("l_returnflag"), col("p50_qty"),
        col("pp").getItem(0).as("p90_price"),
        col("pp").getItem(1).as("p25_price"))
      .orderBy("l_returnflag")

  /** Column profiling in ONE pass: null counts, exact extrema, and
    * distinct counts per profiled column — the data-quality summary a
    * pipeline runs after every load (the reference's quality gates
    * grown up). All integer/exact-decimal outputs → oracle-checkable. */
  def profileTable(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_custkey").isNull, 1).otherwise(0)).as("null_custkey"),
      countDistinct(col("o_custkey")).as("distinct_custkey"),
      countDistinct(col("o_orderstatus")).as("distinct_status"),
      min(col("o_totalprice")).as("min_price"),
      max(col("o_totalprice")).as("max_price"),
      Exact.dsum(col("o_totalprice")).as("sum_price"),
      min(unix_millis(col("o_orderdate"))).as("min_date_ms"),
      max(unix_millis(col("o_orderdate"))).as("max_date_ms"))

  /** Second string-function family: regex capture groups, translate,
    * reverse, repeat, split_part — the remaining scalar string surface. */
  def stringEdges(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part").select(
      col("p_partkey"),
      regexp_extract(col("p_type"), "^(\\w+)", 1).as("first_word"),
      translate(col("p_brand"), "#", "n").as("trans"),
      reverse(col("p_brand")).as("rev"),
      repeat(lit("ab"), 3).as("rep"),
      expr("split_part(p_type, ' ', 1)").as("head_part"),
      expr("split_part(p_type, ' ', -1)").as("tail_part"))
      .orderBy("p_partkey")

  lazy val records: Seq[Query] = Seq(
    Query("q97_string_edges", stringEdges(_, _),
      """SELECT p_partkey,
        |  regexp_extract(p_type, '^(\w+)', 1) AS first_word,
        |  translate(p_brand, '#', 'n') AS trans,
        |  reverse(p_brand) AS rev,
        |  repeat('ab', 3) AS rep,
        |  split_part(p_type, ' ', 1) AS head_part,
        |  split_part(p_type, ' ', -1) AS tail_part
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("q64_profile", profileTable(_, _),
      s"""SELECT count(*) AS n_rows,
         |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
         |  count(DISTINCT o_custkey) AS distinct_custkey,
         |  count(DISTINCT o_orderstatus) AS distinct_status,
         |  min(o_totalprice) AS min_price,
         |  max(o_totalprice) AS max_price,
         |  ${Exact.sqlDsum("o_totalprice")} AS sum_price,
         |  min(epoch_ms(o_orderdate)) AS min_date_ms,
         |  max(epoch_ms(o_orderdate)) AS max_date_ms
         |FROM orders""".stripMargin),
    Query("q54_percentiles", percentiles(_, _),
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin),
    Query("q48_bpe_tokens", bpeTokenCount(_, _),
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_word_tokens,
        |  len(regexp_extract_all(text, '[0-9]+')) AS n_digit_tokens,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\v\f\r]')) AS n_punct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q49_salted_agg", saltedAgg(_, _),
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),
    Query("q26_intersect", intersectKeys(_, _),
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
        |INTERSECT
        |SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY k""".stripMargin),
    Query("q27_except", exceptKeys(_, _),
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
        |EXCEPT
        |SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY k""".stripMargin),
    Query("q28_cube", cubeAgg(_, _),
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    Query("q29_count_distinct", countDistinctAgg(_, _),
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin),
    Query("q44_string_funcs", stringFuncs(_, _),
      """SELECT p_partkey, upper(p_name) AS u, lower(p_brand) AS l,
        |  substring(p_name, 1, 5) AS pre, length(p_name) AS len,
        |  concat_ws('|', p_brand, p_type) AS cat,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
        |  strpos(p_type, 'E') AS epos,
        |  lpad(p_brand, 12, '#') AS padded
        |FROM part ORDER BY p_partkey""".stripMargin),
    Query("q45_date_funcs", dateFuncs(_, _),
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  dayofmonth(o_orderdate) AS dom,
        |  strftime(o_orderdate, '%Y-%m-%d') AS iso,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS eom,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')
        |    AS days_to_98
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Query("q46_cross_join", crossJoinDims(_, _),
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin),
    Query("q47_moment_stats", momentStats(_, _),
      """SELECT l_returnflag, count(l_quantity) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / count(l_quantity) AS mean,
        |  (CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE)
        |   - CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
        |     * CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / count(l_quantity))
        |  / (count(l_quantity) - 1) AS variance
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin))
}
