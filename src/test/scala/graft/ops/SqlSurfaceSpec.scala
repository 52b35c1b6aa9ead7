package graft.ops

import graft.SparkSpec

/** `SqlSurface.registerViews` registers only the tables a query names,
  * and temp views outlive the query that registered them: in a shared
  * session an unnamed table would resolve against an earlier query's
  * view (possibly over another dir). So each SQL-surface query is
  * analyzed in its own `newSession()`, which starts with no views. */
class SqlSurfaceSpec extends SparkSpec {

  test("every SQL-surface query resolves with only the views it registers") {
    val surface = SqlSurface.queries ++ Seq(
      "q267_min_cost_supplier" -> (Relational.minCostSupplier _),
      "q91_grouping_sets" -> (Advanced.groupingSets _))
    surface.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val s = spark.newSession()
      assert(s.catalog.listTables().collect().forall(!_.isTemporary), name)
      // spark.sql analyzes eagerly: a missing view throws here
      val df = fn(s, sf())
      assert(df.queryExecution.analyzed.resolved, name)
    }
  }
}
