package graft.util

import graft.SparkSpec

/** Pins the scratch-zone contract: the conf dial routes a zone, a
  * stored relation round-trips, and two zones of one name never
  * collide. The per-query plan pins (PostingsSpec, PlanAuditSpec)
  * prove consumers actually read the zone. */
class ScratchSpec extends SparkSpec {

  test("zone lands under graft.scratch.dir as <appId>/<name>-<n>") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("scratch-spec").toString
    spark.conf.set(Scratch.DirKey, dir)
    try {
      val p = Scratch.zone(spark, "unit")
      assert(p.matches(
        s"\\Q$dir/${spark.sparkContext.applicationId}/unit-\\E[0-9]+"), p)
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(p)
      val got = spark.read.parquet(p)
      assert(got.orderBy("id").collect().map(_.getString(1)).toSeq ==
        Seq("a", "b"))
      // zones live under <root>/<appId>/<name>-<n>
      val appDir = new java.io.File(dir).listFiles()
      assert(appDir != null && appDir.length == 1, s"expected app dir in $dir")
      val stored = appDir(0).listFiles()
      assert(stored != null && stored.exists(_.getName.startsWith("unit-")),
        s"expected a unit-* zone under ${appDir(0)}")
    } finally spark.conf.unset(Scratch.DirKey)
  }

  test("unique zone paths: same name twice never collides") {
    import spark.implicits._
    val a = Scratch.zone(spark, "twice")
    val b = Scratch.zone(spark, "twice")
    assert(a != b)
    Seq(1L).toDF("x").write.parquet(a)
    Seq(2L).toDF("x").write.parquet(b)
    assert(spark.read.parquet(a).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.read.parquet(b).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("memo: one derivation per key; the by-name relation never builds on a hit") {
    import spark.implicits._
    var builds = 0
    def derive() = { builds += 1; Seq((1L, "x")).toDF("id", "v") }
    val k = s"memo-spec-${System.identityHashCode(this)}"
    val a = Scratch.memo(spark, "memo-unit", k)(derive())
    val b = Scratch.memo(spark, "memo-unit", k)(derive())
    assert(builds == 1, s"memo hit rebuilt the relation ($builds builds)")
    assert(a.collect().toSeq == b.collect().toSeq)
    // distinct keys stay distinct relations
    val c = Scratch.memo(spark, "memo-unit", k + ":other")(
      Seq((2L, "y")).toDF("id", "v"))
    assert(c.head().getLong(0) == 2L && builds == 1)
  }

  test("clear drops the schemas read inside its zones, and only those") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("scratch-clear").toString
    spark.conf.set(Scratch.DirKey, dir)
    try {
      val zone = Scratch.zone(spark, "clear")
      val inZone = s"${Scratch.zone(spark, "clear")}/centroids"
      val table = SparkSpec.tempDir("scratch-clear-table").resolve("t.parquet").toString
      for (p <- Seq(zone, inZone, table)) {
        Seq(1L).toDF("x").write.parquet(p)
        graft.Tables.read(spark, p)
        assert(graft.Tables.holds(spark, p), p)
      }
      Scratch.clear(spark)
      assert(!graft.Tables.holds(spark, zone) && !graft.Tables.holds(spark, inZone))
      assert(!new java.io.File(zone).exists)
      assert(graft.Tables.holds(spark, table), "a table outside every zone stays")
    } finally spark.conf.unset(Scratch.DirKey)
  }
}
// NOTE: suites run one at a time in the forked test JVM, so the global
// Scratch.clear above deletes only zones of suites that have finished;
// it also resets the memo map, so a later suite rebuilds what it needs.
