package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.util.{Exact, Tokens}

/** Third coverage tier: explicit GROUPING SETS with grouping_id
  * disambiguation, the TPC-H Q6 predicate-aggregate shape,
  * deterministic arg-max via struct ordering, and the array-function
  * family. */
object Advanced extends QueryModule {

  /** q91: GROUPING SETS ((flag), (status), ()) with grouping_id so
    * subtotal NULLs are distinguishable from data NULLs. */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    SqlSurface.registerViews(s, dir, "lineitem")
    s.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  grouping(l_returnflag) AS g_flag,
         |  grouping(l_linestatus) AS g_status,
         |  count(*) AS n,
         |  ${Exact.sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
         |  l_linestatus NULLS FIRST""".stripMargin)
  }

  /** q92: TPC-H Q6 shape — tight predicate + single revenue sum; the
    * entire query is scan + pushed filters + one partial/final agg. */
  def predicateRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .where(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(Exact.dsumProd(col("l_extendedprice"), col("l_discount"))
        .as("revenue"),
        count(lit(1)).as("n"))

  /** q93: deterministic arg-max — most expensive order per customer
    * via `max(struct(price, key))`: struct ordering is lexicographic
    * in both engines, so ties break on the key instead of
    * nondeterministic max_by. */
  def argMaxOrder(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_totalprice").as("p"), col("o_orderkey").as("k")))
        .as("m"))
      .select(col("o_custkey"), col("m.p").as("best_price"),
        col("m.k").as("best_order"))
      .orderBy("o_custkey")

  /** q94: array-function family over document token arrays. */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame = {
    val toks = Tokens.whitespace(col("text"))
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      element_at(toks, 1).as("first_tok"),
      element_at(toks, -1).as("last_tok"),
      size(slice(toks, 1, 3)).as("head3_n"),
      array_contains(toks, "spark").as("has_spark"),
      array_position(toks, "data").as("data_pos"),
      element_at(array_sort(toks), 1).as("min_tok"))
      .orderBy("doc_id")
  }

  lazy val records: Seq[Query] = Seq(
    Query("q91_grouping_sets", groupingSets(_, _),
      s"""SELECT l_returnflag, l_linestatus,
         |  grouping(l_returnflag) AS g_flag,
         |  grouping(l_linestatus) AS g_status,
         |  count(*) AS n,
         |  ${Exact.sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
         |  l_linestatus NULLS FIRST""".stripMargin),
    Query("q92_predicate_revenue", predicateRevenue(_, _),
      s"""SELECT ${Exact.sqlDsumProd("l_extendedprice", "l_discount")} AS revenue,
         |  count(*) AS n
         |FROM lineitem
         |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin),
    Query("q93_argmax_struct", argMaxOrder(_, _),
      """SELECT o_custkey,
        |  (max(struct_pack(p := o_totalprice, k := o_orderkey))).p AS best_price,
        |  (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS best_order
        |FROM orders GROUP BY 1 ORDER BY o_custkey""".stripMargin),
    Query("q94_array_funcs", arrayFuncs(_, _),
      """SELECT doc_id,
        |  string_split_regex(trim(text), '[ \t\n\v\f\r]+')[1] AS first_tok,
        |  string_split_regex(trim(text), '[ \t\n\v\f\r]+')[-1] AS last_tok,
        |  len(list_slice(string_split_regex(trim(text), '[ \t\n\v\f\r]+'), 1, 3)) AS head3_n,
        |  list_contains(string_split_regex(trim(text), '[ \t\n\v\f\r]+'), 'spark') AS has_spark,
        |  CAST(coalesce(list_position(string_split_regex(trim(text), '[ \t\n\v\f\r]+'), 'data'), 0) AS BIGINT) AS data_pos,
        |  list_sort(string_split_regex(trim(text), '[ \t\n\v\f\r]+'))[1] AS min_tok
        |FROM documents ORDER BY doc_id""".stripMargin))
}
