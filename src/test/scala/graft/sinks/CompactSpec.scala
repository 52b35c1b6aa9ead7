package graft.sinks

import graft.{SparkSpec, Tables}

/** Compaction must reduce file count, preserve data exactly, and
  * leave no staging/backup litter. */
class CompactSpec extends SparkSpec {

  test("compaction merges small files and preserves every row") {
    val dir = SparkSpec.tempDir("compact").toString + "/t.parquet"
    val src = Tables.load(spark, sf(), "customer")
    src.repartition(8).write.parquet(dir)
    val beforeRows = spark.read.parquet(dir).count()

    val report = Compact.compact(spark, dir) // default target ≫ data size
    assert(report.filesBefore == 8, report.toString)
    assert(report.filesAfter == 1, report.toString)
    assert(report.rows == beforeRows)

    val after = spark.read.parquet(dir)
    assert(after.count() == beforeRows)
    assert(after.columns.toSeq == src.columns.toSeq)
    // exact content: symmetric difference empty
    assert(after.exceptAll(src).isEmpty && src.exceptAll(after).isEmpty)
    // no staging or backup litter
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("t.parquet"), parent.toString)
  }

  test("empty table compacts to a no-op report, not a read error") {
    val dir = SparkSpec.tempDir("compact_e").toString + "/none"
    assert(Compact.compact(spark, dir) == Compact.Report(0, 0, 0L, 0L))
    assert(Warehouse.tableStats(spark, dir) ==
      Warehouse.TableStats(0, 0L, 0L, 0))
  }

  test("partitioned table root is refused (layout would be destroyed)") {
    val dir = SparkSpec.tempDir("compact_p").toString + "/p.parquet"
    Tables.load(spark, sf(), "nation")
      .write.partitionBy("n_regionkey").parquet(dir)
    val e = intercept[IllegalArgumentException](Compact.compact(spark, dir))
    assert(e.getMessage.contains("partition"))
    // per-partition compaction is the supported path
    val part = dir + "/n_regionkey=1"
    val r = Compact.compact(spark, part)
    assert(r.filesAfter == 1 && r.rows == 5)
  }
}
