package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Query, QueryModule, Tables}
import graft.util.{Exact, Ordered}

/** Reference-parity queries: the complete data path of the reference's
  * transform DAG (scan → conjunctive filter → wide derived projection →
  * aggregate), re-expressed over the driver's testdata tables.
  *
  * Operator coverage (SURVEY.md §2): P1 conjunctive filter, P2 wide
  * projection, P3 rename-on-select, E1 timestamp-diff minutes,
  * E2/E3/E4 hour/dow/month extracts (E3 with the reference's Postgres
  * 0=Sunday semantics, reference dags/taxi_transform_dag.py:56),
  * E5 guarded capped ratio, E6 dict-decode CASE, E7 guarded division,
  * E8 searched-CASE binning, E9 COALESCE default, E10 arithmetic,
  * A1 COUNT(*), A2 single-pass multi-AVG
  * (reference dags/taxi_transform_dag.py:27-100).
  *
  * Every query is deterministically ordered and uses exact decimal
  * aggregation (see [[graft.util.Exact]]) so results hash-match the
  * DuckDB oracle bit-for-bit at any parallelism.
  */
object CoreParity extends QueryModule {

  /** A1+A2: the reference's summary query — COUNT(*) plus three AVGs in
    * ONE pass (one partial+final hash-agg job, no extra scans). */
  def summaryStats(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    li.agg(
      count(lit(1)).as("n_rows"),
      Exact.dsum(col("l_quantity")).as("sum_qty"),
      Exact.davg(col("l_quantity")).as("avg_qty"),
      Exact.davg(col("l_extendedprice")).as("avg_price"),
      Exact.davg(col("l_discount")).as("avg_disc"))
  }

  /** The flagship cleaned-transform: P1 filter + 12 derived expressions
    * in one codegen'd scan→filter→project pipeline (the Spark analog of
    * the reference's 38-line INSERT..SELECT, taxi_transform_dag.py:38-86).
    * lineitem⋈orders stands in for the taxi table's (pickup, dropoff)
    * timestamp pair. */
  def cleanedTransform(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o  = Tables.load(s, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      // P1: timestamp comparison + two numeric guards, 3-way AND
      .filter(col("l_shipdate") > col("o_orderdate") &&
              col("l_quantity") > 0 && col("l_extendedprice") >= 0)
      .select(
        // P3: rename-on-select
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        col("o_custkey").as("customer_id"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("price"),
        // E1: timestamp difference in minutes, double division semantics
        ((unix_millis(col("l_shipdate")) - unix_millis(col("o_orderdate")))
          / lit(60000.0)).as("ship_delay_min"),
        // E4 / E3 (Postgres dow: 0=Sunday..6=Saturday → Spark dayofweek-1)
        month(col("l_shipdate")).as("ship_month"),
        (dayofweek(col("l_shipdate")) - 1).as("ship_dow"),
        // E5: guarded ratio, capped (reference cap 999.99)
        when(col("l_extendedprice") > 0,
          least(col("l_tax") / col("l_extendedprice") * 100, lit(999.99)))
          .otherwise(lit(0.0)).as("tax_pct"),
        // E6: dict-decode CASE with catch-all
        when(col("o_orderstatus") === "O", "Open")
          .when(col("o_orderstatus") === "F", "Fulfilled")
          .when(col("o_orderstatus") === "P", "Pending")
          .otherwise("Other").as("status_desc"),
        // E7: guarded division (div-by-zero-safe revenue per unit)
        when(col("l_quantity") > 0, col("l_extendedprice") / col("l_quantity"))
          .otherwise(lit(0.0)).as("price_per_unit"),
        // E9: COALESCE(NULLIF(..)) default
        coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0))
          .as("disc_or_flag"))
      // E8: searched-CASE binning on the derived duration (minutes),
      // exclusive upper bounds exactly like the reference's bins
      .withColumn("delay_bucket",
        when(col("ship_delay_min") < 7200, "Very Short")
          .when(col("ship_delay_min") < 21600, "Short")
          .when(col("ship_delay_min") < 43200, "Medium")
          .when(col("ship_delay_min") < 86400, "Long")
          .otherwise("Very Long"))
      // lineitem has no unique key in this data — total order over ALL
      // output columns so ties are fully identical rows (hash-stable).
      .transform(Ordered.byAll)
  }

  val cleanedTransformSql: String =
    """SELECT l_orderkey AS order_id, l_linenumber AS line_no,
      |  o_custkey AS customer_id, l_quantity AS quantity,
      |  l_extendedprice AS price,
      |  (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) / 60000.0 AS ship_delay_min,
      |  month(l_shipdate) AS ship_month,
      |  dayofweek(l_shipdate) AS ship_dow,
      |  CASE WHEN l_extendedprice > 0
      |       THEN LEAST(l_tax / l_extendedprice * 100, 999.99) ELSE 0.0 END AS tax_pct,
      |  CASE o_orderstatus WHEN 'O' THEN 'Open' WHEN 'F' THEN 'Fulfilled'
      |       WHEN 'P' THEN 'Pending' ELSE 'Other' END AS status_desc,
      |  CASE WHEN l_quantity > 0 THEN l_extendedprice / l_quantity
      |       ELSE 0.0 END AS price_per_unit,
      |  COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_or_flag,
      |  CASE WHEN (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) / 60000.0 < 7200 THEN 'Very Short'
      |       WHEN (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) / 60000.0 < 21600 THEN 'Short'
      |       WHEN (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) / 60000.0 < 43200 THEN 'Medium'
      |       WHEN (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) / 60000.0 < 86400 THEN 'Long'
      |       ELSE 'Very Long' END AS delay_bucket
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate AND l_quantity > 0 AND l_extendedprice >= 0
      |ORDER BY ALL""".stripMargin

  /** E2/E3/E4 on a true time-of-day timestamp column (events.ts). */
  def datetimeExtract(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").select(
      col("event_id"),
      hour(col("ts")).as("h"),
      (dayofweek(col("ts")) - 1).as("dow_pg"),
      month(col("ts")).as("m"))
      .orderBy("event_id")

  /** E8 boundary semantics isolated: exact bin edges, grouped counts. */
  def caseBinning(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(
        when(col("l_quantity") < 5, "Very Short")
          .when(col("l_quantity") < 15, "Short")
          .when(col("l_quantity") < 30, "Medium")
          .when(col("l_quantity") < 45, "Long")
          .otherwise("Very Long").as("qty_bucket"))
      .groupBy("qty_bucket").agg(count(lit(1)).as("n"))
      .orderBy("qty_bucket")

  /** E5 isolated, row-level (bit-exact double arithmetic, no sums). */
  def guardedRatioCap(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_discount") > 0,
        least(col("l_tax") / col("l_discount") * 100, lit(999.99)))
        .otherwise(lit(0.0)).as("tax_over_disc"))
      .transform(Ordered.byAll)

  /** E6 isolated: decode + grouped count. */
  def decodeStatus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(
        when(col("o_orderstatus") === "O", "Open")
          .when(col("o_orderstatus") === "F", "Fulfilled")
          .when(col("o_orderstatus") === "P", "Pending")
          .otherwise("Other").as("status_desc"))
      .groupBy("status_desc").agg(count(lit(1)).as("n"))
      .orderBy("status_desc")

  /** JSON field extraction from the events.props payload column. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** q209: the VARIANT semi-structured type (new in Spark 4) —
    * `parse_json` → binary variant column → typed `variant_get`
    * path extraction, with the try_/missing-path null contract
    * exercised alongside. The variant itself never leaves the plan
    * (it is an engine-internal encoding); the EXTRACTED values are
    * the cross-engine surface, replayed in DuckDB's JSON path
    * functions. At 100 TB the variant encoding is the point: one
    * parse at ingest, then typed sub-field access with predicate
    * pushdown instead of per-query string re-parsing. */
  def variantExtract(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        variant_get(col("v"), "$.k", "int").as("k"),
        variant_get(col("v"), "$.k", "string").as("k_str"),
        try_variant_get(col("v"), "$.missing", "int").as("absent"),
        is_variant_null(col("v")).as("v_is_null"))
      .orderBy("event_id")

  /** S1: deterministic sample-N scan (the reference's 100-row inference
    * sample, agent-schema/app.py:181). */
  def sampleLimit(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .transform(Ordered.byAll)
      .limit(100)

  lazy val records: Seq[Query] = Seq(
    Query("q01_summary_stats", summaryStats(_, _),
      s"""SELECT count(*) AS n_rows,
         |  ${Exact.sqlDsum("l_quantity")} AS sum_qty,
         |  ${Exact.sqlDavg("l_quantity")} AS avg_qty,
         |  ${Exact.sqlDavg("l_extendedprice")} AS avg_price,
         |  ${Exact.sqlDavg("l_discount")} AS avg_disc
         |FROM lineitem""".stripMargin),
    Query("q02_cleaned_transform", cleanedTransform(_, _), cleanedTransformSql),
    Query("q03_datetime_extract", datetimeExtract(_, _),
      """SELECT event_id, hour(ts) AS h, dayofweek(ts) AS dow_pg,
        |  month(ts) AS m FROM events ORDER BY event_id""".stripMargin),
    Query("q04_case_binning", caseBinning(_, _),
      """SELECT CASE WHEN l_quantity < 5 THEN 'Very Short'
        |  WHEN l_quantity < 15 THEN 'Short'
        |  WHEN l_quantity < 30 THEN 'Medium'
        |  WHEN l_quantity < 45 THEN 'Long'
        |  ELSE 'Very Long' END AS qty_bucket, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY qty_bucket""".stripMargin),
    Query("q05_guarded_ratio_cap", guardedRatioCap(_, _),
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_discount > 0
        |       THEN LEAST(l_tax / l_discount * 100, 999.99)
        |       ELSE 0.0 END AS tax_over_disc
        |FROM lineitem ORDER BY ALL""".stripMargin),
    Query("q06_decode_status", decodeStatus(_, _),
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'Open'
        |  WHEN 'F' THEN 'Fulfilled' WHEN 'P' THEN 'Pending'
        |  ELSE 'Other' END AS status_desc, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY status_desc""".stripMargin),
    Query("q07_json_extract", jsonExtract(_, _),
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q08_sample_limit", sampleLimit(_, _),
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY ALL LIMIT 100""".stripMargin),
    // the variant is engine-internal; the extracted values are the
    // surface — JSON path replay. A null props row would extract all
    // NULLs in both engines; is_variant_null is about the JSON value
    // `null`, which this generator never emits (gate pins FALSE).
    Query("q209_variant_extract", variantExtract(_, _),
      """SELECT event_id,
        |  CAST(props->>'$.k' AS INTEGER) AS k,
        |  props->>'$.k' AS k_str,
        |  CAST(props->>'$.missing' AS INTEGER) AS absent,
        |  (json_type(props::JSON) = 'NULL') AS v_is_null
        |FROM events ORDER BY event_id""".stripMargin))
}
