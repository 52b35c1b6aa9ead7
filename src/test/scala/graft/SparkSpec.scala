package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session, so the whole `sbt test` run pays startup once), built by
  * the production builder so every suite runs under the shipped conf. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = SparkSpec.sf(dir)

  /** `f`'s result and the listener events it caused, newest first:
    * job starts and the other events (SQL executions among them). A
    * barrier job flushes the listener bus (an RDD action, so no AQE
    * side jobs), then the event list must hold still for 500 ms. */
  def eventsDuring[T](f: => T): (T, List[SparkListenerEvent]) = {
    val barrier = "spark-spec barrier"
    @volatile var events = List.empty[SparkListenerEvent]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties == null ||
            j.properties.getProperty("spark.job.description") != barrier)
          events ::= j
      override def onOtherEvent(e: SparkListenerEvent): Unit = events ::= e
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val result = f
      spark.sparkContext.setJobDescription(barrier)
      try spark.sparkContext.parallelize(Seq(1)).count()
      finally spark.sparkContext.setJobDescription(null)
      var (seen, stableSince) = (events.size, System.currentTimeMillis)
      while (System.currentTimeMillis - stableSince < 500) {
        if (events.size != seen) { seen = events.size
          stableSince = System.currentTimeMillis }
        Thread.sleep(20)
      }
      (result, events)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `f`'s result and the Spark jobs it submitted (each as its stage
    * names), newest first. */
  def jobsDuring[T](f: => T): (T, List[String]) = {
    val (result, events) = eventsDuring(f)
    (result, events.collect { case j: SparkListenerJobStart =>
      j.stageInfos.map(_.name).mkString("|") })
  }
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
