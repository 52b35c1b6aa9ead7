package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's own invariants — no SparkSession needed.
  * Catches silent drift between the query map and the oracle map: a
  * query without an oracle silently downgrades the driver's check to
  * rows-only; an oracle without a query is dead SQL. */
class SparkEntrySpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries missing oracles: ${q -- o}")
    assert((o -- q).isEmpty, s"orphan oracles: ${o -- q}")
  }

  test("query names are unique across contributing modules") {
    // the map union silently keeps the LAST duplicate — count the
    // contributions so a collision fails loudly instead
    val parts = SparkEntry.modules.map(_._1)
    val all = parts.flatMap(_.keys)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(all.size == SparkEntry.queries.size)
  }
}
