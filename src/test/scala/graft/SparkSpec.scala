package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session, so the whole `sbt test` run pays startup once), built by
  * the production builder so every suite runs under the shipped conf. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = SparkSpec.sf(dir)
}

object SparkSpec {
  def sf(dir: String): String = s"/root/testdata/sf$dir"
  lazy val session: SparkSession = util.Sessions.build(sf("0.001"))
}
