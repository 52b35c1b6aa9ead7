package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.util.Sessions

/** One session builder, one cpu source: outside `util/Sessions.scala`
  * no main or test source may build a SparkSession or read the cpu
  * env var, so every entry point, tool and suite plans under the conf
  * that the bench times. */
class SourceCheckSpec extends SparkSpec {
  private val root = Paths.get(sys.props("user.dir"))
  private val sessions = root.resolve("src/main/scala/graft/util/Sessions.scala")
  // this spec names both patterns, so it is exempt like Sessions itself
  private val self = root.resolve("src/test/scala/graft/SourceCheckSpec.scala")

  private lazy val sources: Seq[Path] = Seq("src/main", "src/test").flatMap { d =>
    val s = Files.walk(root.resolve(d))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def offenders(needle: String): Seq[String] =
    sources.filterNot(p => p == sessions || p == self)
      .filter(p => Files.readString(p).contains(needle))
      .map(root.relativize(_).toString)

  test("sources are found, Sessions and this spec among them") {
    assert(sources.contains(sessions) && sources.contains(self))
  }

  test("SparkSession.builder appears only in util/Sessions.scala") {
    val bad = offenders("SparkSession.builder")
    assert(bad.isEmpty, s"build sessions through Sessions.build: $bad")
  }

  test("SPARK_GRAFT_CPUS is read only in util/Sessions.scala") {
    val bad = offenders("SPARK_GRAFT_CPUS")
    assert(bad.isEmpty, s"take the cpu count from Sessions.cpus: $bad")
  }

  test("Sessions.cpus honours SPARK_GRAFT_CPUS, else the processor count") {
    val procs = Runtime.getRuntime.availableProcessors
    assert(Sessions.cpusFrom(Some("3")) === 3)
    assert(Sessions.cpusFrom(Some(" 6 ")) === 6)
    assert(Sessions.cpusFrom(None) === procs)
    assert(Sessions.cpusFrom(Some("")) === procs)
    assert(Sessions.cpus === sys.env.get("SPARK_GRAFT_CPUS").map(_.trim)
      .filter(_.nonEmpty).map(_.toInt)
      .getOrElse(procs))
  }

  test("the test session is the production one: Sessions.build at Sessions.cpus") {
    assert(spark.sparkContext.master === s"local[${Sessions.cpus}]")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      === "false")
  }
}
