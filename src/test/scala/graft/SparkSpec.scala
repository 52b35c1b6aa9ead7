package graft

import java.nio.file.{Files, Path}

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

  /** A fresh directory for one test, under a per-JVM root that is
    * deleted at JVM exit (as `Scratch`'s default root is): a test run
    * leaves the temp dir as it found it. The only temp-dir source in
    * `src/test` (pinned by `SourceCheckSpec`). */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)

  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-test-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit))
    root
  }
}
