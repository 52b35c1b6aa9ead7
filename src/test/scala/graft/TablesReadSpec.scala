package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Pins `Tables.read`'s schema reuse: a repeat read of an unchanged
  * table infers nothing, and every input of the inference (the files,
  * the reader confs) invalidates it; a hit is a fresh relation, and a
  * path that cannot be listed fails as Spark fails. */
class TablesReadSpec extends SparkSpec {
  import spark.implicits._

  test("a second load of an unchanged table launches no job") {
    val dir = SparkSpec.tempDir("tables-read").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(firstJobs.nonEmpty, "the first load infers from a footer")
    val (second, secondJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(secondJobs.isEmpty, s"repeat load of an unchanged table: $secondJobs")
    assert(second.schema === first.schema)
    assert(second.orderBy("id").collect().toSeq === first.orderBy("id").collect().toSeq)
  }

  test("an overwrite with a different schema is read with the new schema") {
    val dir = SparkSpec.tempDir("tables-read").toString
    val t = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "v").write.parquet(t)
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("id", "v"))
    Seq((2L, 0.5, 7)).toDF("id", "w", "x").write.mode("overwrite").parquet(t)
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq === Seq("id", "w", "x"))
    assert(after.collect().toSeq.map(_.getInt(2)) === Seq(7))
  }

  test("flipping spark.sql.parquet.binaryAsString infers again") {
    // a footer without Spark's own schema (which would win over the
    // parquet types): one unannotated BINARY column
    val dir = SparkSpec.tempDir("tables-read").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary b; required int64 id; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x").append("id", 1L))
    finally w.close()
    val k = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(k)
    try {
      spark.conf.set(k, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType === BinaryType)
      spark.conf.set(k, "true")
      val asString = Tables.load(spark, dir, "t")
      assert(asString.schema("b").dataType === StringType)
      assert(asString.head().getString(0) === "x")
      spark.conf.set(k, "false")
      assert(Tables.load(spark, dir, "t").schema("b").dataType === BinaryType)
    } finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("a self-join of two loads resolves with the self-join's row count") {
    val dir = SparkSpec.tempDir("tables-read").toString
    (1L to 10L).map(i => (i, i % 3)).toDF("id", "k").write.parquet(s"$dir/t.parquet")
    val a = Tables.load(spark, dir, "t")
    val b = Tables.load(spark, dir, "t")
    assert(Tables.holds(spark, s"$dir/t.parquet"))
    // k = 0, 1, 2 hold 3, 4, 3 rows: 9 + 16 + 9 pairs, not the 100 of
    // a condition that resolved to one side twice
    assert(a.join(b, a("k") === b("k")).count() === 34L)
  }

  test("a missing path fails with spark.read.parquet's error class") {
    val missing = s"${SparkSpec.tempDir("tables-read")}/absent.parquet"
    val plain = intercept[AnalysisException](spark.read.parquet(missing))
    val viaTables = intercept[AnalysisException](Tables.read(spark, missing))
    assert(viaTables.getCondition === plain.getCondition)
    assert(viaTables.getCondition === "PATH_NOT_FOUND")
    assert(!Tables.holds(spark, missing))
  }
}
