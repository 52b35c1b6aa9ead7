package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The sink's commit-protocol contracts: manifest-listed files are
  * complete and exact, aborted writers leave nothing visible, and the
  * whole write round-trips. */
class ManifestSinkSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  test("write commits a manifest whose files round-trip the data") {
    val out = SparkSpec.tempDir("manifest_sink").toString
    val src = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
    src.repartition(4, col("doc_id"))
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("overwrite").save()
    val m = spark.read.json(s"$out/manifest.json")
    val row = m.head
    assert(row.getAs[Long]("n_files") == 4L)
    assert(row.getAs[Long]("total_rows") == src.count())
    // no temp debris survives the commit
    val stray = new java.io.File(out).listFiles()
      .map(_.getName).filter(n => n.startsWith(".tmp-") || n.endsWith(".tmp"))
    assert(stray.isEmpty, stray.mkString(","))
    // the listed files hold EXACTLY the source rows
    val back = spark.read
      .schema(schema).option("sep", "|").csv(s"$out/part-*.txt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val want = src.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(back.toSeq == want.toSeq)
    // per-file digests XOR to the manifest total (self-consistency)
    val files = m.select(explode(col("files")).as("f"))
      .select(col("f.rows").cast("long"), col("f.digest").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(files.map(_._1).sum == src.count())
    assert(files.map(_._2).foldLeft(0L)(_ ^ _) ==
      row.getAs[Long]("total_digest"))
  }

  test("an aborted task writer leaves no visible file") {
    val out = SparkSpec.tempDir("manifest_abort").toString
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val w = new ManifestWriterFactory(out, schema, conf)
      .createWriter(0, 42L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      1L, org.apache.spark.unsafe.types.UTF8String.fromString("web"), 10L))
    w.abort()
    val left = new java.io.File(out).listFiles()
    assert(left == null || left.isEmpty,
      left.map(_.getName).mkString(","))
  }

  test("row hash replicates the Md5Prefix spelling exactly") {
    val payload = "7|web|123"
    val viaExpr = spark.range(1).select(
      graft.dedup.Md5Prefix.h(lit(payload))).head.getLong(0)
    assert(ManifestSink.rowHash(payload) == viaExpr)
  }
}
