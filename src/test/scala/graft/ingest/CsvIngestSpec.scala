package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.pipeline.Pipeline

/** End-to-end ingest + evolution + pipeline gates over real temp CSVs —
  * the reference's §3.1 lifecycle without the three services. */
class CsvIngestSpec extends SparkSpec {

  private def tmpDir(): String =
    SparkSpec.tempDir("graft_ingest").toString

  private def writeCsv(dir: String, name: String, lines: String*): String = {
    val p = java.nio.file.Paths.get(dir, name)
    Files.writeString(p, lines.mkString("\n"))
    p.toString
  }

  test("ingest infers lattice types from a sample and writes parquet") {
    val work = tmpDir()
    val csv = writeCsv(work, "trips.csv",
      "id,fare-amount,when,flag,note",
      "1,10.5,2025-01-01 10:00:00,true,hello",
      "2,3.25,2025-01-02 11:30:00,false,world")
    val res = CsvIngest.ingest(spark, csv, "raw.trips", s"$work/zones")

    assert(res.evolution.createdTable)
    val written = spark.read.parquet(res.path)
    val types = written.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("id") == LongType)
    assert(types("fare_amount") == DoubleType) // sanitized + FLOAT branch
    assert(types("when") == TimestampType)
    assert(types("flag") == BooleanType)
    assert(types("note") == StringType)
    assert(written.count() == 2)
  }

  test("minute-resolution values in the sample still type a timestamp column") {
    val work = tmpDir()
    val csv = writeCsv(work, "minutes.csv",
      "tpep_pickup_datetime,fare",
      "2025-01-28 13:59:30,1.0",
      "2025-01-28 14:00,2.0",
      "2025-01-28T14:05,3.0")
    val res = CsvIngest.ingest(spark, csv, "raw.minutes", s"$work/zones")
    val back = spark.read.parquet(res.path)
    assert(back.schema("tpep_pickup_datetime").dataType == TimestampType)
    assert(back.where("tpep_pickup_datetime IS NULL").count() == 0)
    assert(back.where("fare = 2.0 AND " +
      "tpep_pickup_datetime = TIMESTAMP'2025-01-28 14:00:00'").count() == 1)
  }

  test("re-ingest with a new column evolves additively, keeps old columns") {
    val work = tmpDir()
    val v1 = writeCsv(work, "v1.csv", "id,a", "1,x", "2,y")
    CsvIngest.ingest(spark, v1, "raw.evolving", s"$work/zones")

    val v2 = writeCsv(work, "v2.csv", "ID,b", "3,9", "4,7")
    val res2 = CsvIngest.ingest(spark, v2, "raw.evolving", s"$work/zones")

    assert(!res2.evolution.createdTable)
    // case-insensitive: ID matches existing id; only b is new
    assert(res2.evolution.addedColumns.map(_.name) == Seq("b"))
    // ingest APPENDS (reference: NiFi INSERTs into the raw table) —
    // both loads are present, read under the merged schema
    val back = CsvIngest.readZoneTable(spark, s"$work/zones", "raw.evolving")
    assert(back.columns.toSet == Set("id", "a", "b"))
    assert(back.count() == 4)
    assert(back.where("a IS NULL").count() == 2) // v2 rows lack a
    assert(back.where("b IS NULL").count() == 2) // v1 rows lack b
  }

  test("sample-bounded inference: schema planned from first N rows only") {
    val work = tmpDir()
    // first 100 rows numeric, row 101 is text — reference semantics
    // (pd.read_csv(nrows=100)) would type the column INT and choke
    // later; we reproduce the sample-based decision.
    val rows = (1 to 100).map(i => s"$i") :+ "oops"
    val csv = writeCsv(work, "drift.csv", ("x" +: rows): _*)
    val res = CsvIngest.ingest(spark, csv, "raw.drift", s"$work/zones",
      sampleRows = 100)
    assert(res.evolution.merged("x").dataType == LongType)
    // the late non-numeric row becomes NULL under the typed read —
    // documented parity behavior, not silent data corruption
    val back = spark.read.parquet(res.path)
    assert(back.where("x IS NULL").count() == 1)
  }

  test("pipeline gates: empty input aborts, full run reports counts") {
    val work = tmpDir()
    import spark.implicits._
    val empty = spark.emptyDataset[Long].toDF("v")
    val ex = intercept[IllegalArgumentException] {
      Pipeline.qualityGate(empty, "raw input")
    }
    assert(ex.getMessage.contains("No data"))

    val df = Seq(1L, 2L, 3L).toDF("v")
    val report = Pipeline.run(spark, df,
      transform = d => d.where("v > 1"),
      summarize = d => d.agg(Map("v" -> "sum")),
      targetPath = s"$work/out.parquet")
    assert(report.stages.map(s => s.name -> s.rows) == Seq(
      "validate_raw" -> 3L, "transform_materialize" -> 2L, "summary" -> 1L))
  }
}
