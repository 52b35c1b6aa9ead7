package graft.examples

import java.nio.file.{Files, Paths}

import graft.ingest.CsvIngest
import graft.pipeline.Pipeline

/** Runnable end-to-end example of the ingest → evolve → pipeline API
  * (the reference's §3.1/§3.2 lifecycle in one driver program).
  *
  * Usage: runMain graft.examples.IngestDemo [workDir]
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft_demo").toString)
    val spark = graft.util.Sessions.build(work)

    Files.createDirectories(Paths.get(work))
    Files.writeString(Paths.get(work, "t1.csv"),
      "id,fare-amount,when,flag,note\n" +
        "1,10.5,2025-01-01 10:00:00,true,hi\n" +
        "2,3.25,2025-01-02 11:30:00,false,yo")
    val r1 = CsvIngest.ingest(spark, s"$work/t1.csv", "raw.trips",
      s"$work/zones")
    println("DDL1=" + r1.evolution.ddl.mkString(" | "))
    spark.read.parquet(r1.path).show(false)
    spark.read.parquet(r1.path).printSchema()

    // schema drift: case-changed names + a brand-new column
    Files.writeString(Paths.get(work, "t2.csv"),
      "ID,Fare-Amount,when,flag,note,tip pct\n" +
        "3,9.0,2025-02-01 09:00:00,true,new,12.5")
    val r2 = CsvIngest.ingest(spark, s"$work/t2.csv", "raw.trips",
      s"$work/zones")
    println("DDL2=" + r2.evolution.ddl.mkString(" | "))
    CsvIngest.readZoneTable(spark, s"$work/zones", "raw.trips")
      .orderBy("id").show(false)

    // probe: missing input file
    try CsvIngest.ingest(spark, s"$work/nope.csv", "raw.x", s"$work/zones")
    catch {
      case e: Exception => println(
        "PROBE missing-file -> " + e.getClass.getSimpleName + ": " +
          e.getMessage.linesIterator.next())
    }

    // keyed upsert: incremental refresh of the zone table
    import graft.sinks.Upsert
    import spark.implicits._
    val target = s"$work/zones/analytics/scores.parquet"
    Upsert.merge(spark,  target,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "score"), Seq("id"))
    Upsert.merge(spark, target,
      Seq((2L, 21.0), (3L, 30.0)).toDF("id", "score"), Seq("id"))
    println("== upsert result (id 2 updated, 1 kept, 3 added) ==")
    spark.read.parquet(target).orderBy("id").show()

    val rep = Pipeline.run(spark,
      CsvIngest.readZoneTable(spark, s"$work/zones", "raw.trips"),
      d => d.where("fare_amount > 5"),
      d => d.agg(Map("fare_amount" -> "avg")),
      s"$work/zones/analytics/trips_clean.parquet")
    println("REPORT=" + rep)

    // the reference's COMPLETE §3 lifecycle on its own schema: taxi
    // CSV → inferred ingest → verbatim transform → one-pass summary
    Files.writeString(Paths.get(work, "taxi.csv"),
      "tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count," +
        "trip_distance,PULocationID,DOLocationID,fare_amount," +
        "tip_amount,total_amount,payment_type,cbd_congestion_fee\n" +
        "2025-01-05 10:00:00,2025-01-05 10:10:00,1,2.5,100,200,10.0,2.0,12.0,1,0.75\n" +
        "2025-01-05 11:00:00,2025-01-05 11:40:00,2,8.0,101,201,30.0,0.0,30.0,2,\n" +
        "2025-01-05 12:00:00,2025-01-05 11:00:00,1,3.0,102,202,15.0,0.0,15.0,1,0.75")
    val taxi = CsvIngest.ingest(spark, s"$work/taxi.csv",
      "raw.taxi_trips_raw", s"$work/zones")
    val taxiReport = Pipeline.run(spark,
      CsvIngest.readZoneTable(spark, s"$work/zones", "raw.taxi_trips_raw"),
      graft.ops.TaxiTransform.transform,
      graft.ops.TaxiTransform.summary,
      s"$work/zones/analytics/taxi_trips_cleaned.parquet")
    println("TAXI_DDL=" + taxi.evolution.ddl.mkString(" | "))
    println("TAXI_REPORT=" + taxiReport)
    spark.read
      .parquet(s"$work/zones/analytics/taxi_trips_cleaned.parquet")
      .select("pickup_datetime", "trip_duration_minutes",
        "pickup_day_of_week", "tip_percentage", "payment_method",
        "trip_category", "congestion_fee")
      .orderBy("pickup_datetime").show(false)
    spark.stop()
  }
}
