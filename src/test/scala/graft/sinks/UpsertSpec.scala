package graft.sinks

import graft.SparkSpec

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  test("merge replaces same-key rows and keeps the rest") {
    val dir = SparkSpec.tempDir("graft_upsert").toString + "/t"
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "score")
    assert(Upsert.merge(spark, dir, v1, Seq("id")) == 3)

    val updates = Seq((2L, "b2", 21.0), (4L, "d", 40.0))
      .toDF("id", "name", "score")
    assert(Upsert.merge(spark, dir, updates, Seq("id")) == 4)

    val out = spark.read.parquet(dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "b2", 21.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("merge is idempotent for identical updates") {
    val dir = SparkSpec.tempDir("graft_upsert2").toString + "/t"
    val v = Seq((1L, "x")).toDF("id", "v")
    Upsert.merge(spark, dir, v, Seq("id"))
    Upsert.merge(spark, dir, v, Seq("id"))
    assert(spark.read.parquet(dir).count() == 1)
  }
}
