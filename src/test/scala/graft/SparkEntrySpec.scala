package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's own invariants — no SparkSession needed. Each
  * query is one [[Query]] record, so a query cannot lack its oracle;
  * what is left to check is that no name is registered twice. */
class SparkEntrySpec extends AnyFunSuite {

  test("query names are unique across contributing modules") {
    // the registry indexes every module's records, failing on a repeat
    assert(SparkEntry.queries.size == SparkEntry.modules.map(_.records.size).sum)
    val run = (_: SparkSession, _: String) => (null: DataFrame)
    val e = intercept[IllegalArgumentException] {
      Query.index(Seq(Query("qa", run, "SELECT 1"), Query("qb", run, "SELECT 2"),
        Query("qa", run, "SELECT 3")))
    }
    assert(e.getMessage.contains("qa") && !e.getMessage.contains("qb"), e.getMessage)
  }
}
