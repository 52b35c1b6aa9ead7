package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.util.Scratch

/** The per-dir zones (events by day, the erasure chain) are
  * `Scratch.memoZone`s: app-scoped paths, built at most once per
  * application — a repeat call is a hit that builds nothing — and
  * never written to a shared temp location a later JVM could reuse. */
class ZoneScopeSpec extends SparkSpec {

  private val legacyRoot =
    Paths.get(sys.props("java.io.tmpdir"), "graft_zone_v2")

  private def legacyEntries(): Set[String] =
    if (!Files.isDirectory(legacyRoot)) Set.empty
    else {
      val s = Files.list(legacyRoot)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }

  test("per-dir zones are app-scoped and built once per application") {
    val app = spark.sparkContext.applicationId
    val before = legacyEntries()
    Seq[(String, String => String)](
      "erasureZone" -> (Mining.erasureZone(spark, _)),
      "eventsByDayZone" -> (EventOps.eventsByDayZone(spark, _))
    ).foreach { case (name, zone) =>
      val first = zone(sf())
      assert(first.contains(app), s"$name: $first is not under application $app")
      val built = Scratch.buildSeconds
      assert(zone(sf()) == first, s"$name: a repeat call moved the zone")
      assert(Scratch.buildSeconds == built, s"$name: a repeat call rebuilt the zone")
    }
    assert(legacyEntries() == before, s"new entries under $legacyRoot")
  }
}
