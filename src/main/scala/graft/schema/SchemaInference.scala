package graft.schema

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Sample-N CSV schema inference with the reference's exact semantics:
  * read only the first `sampleRows` rows (reference
  * agent-schema/app.py:181, `pd.read_csv(nrows=100)`), sniff each
  * column onto the 5-type lattice, sanitize identifiers.
  *
  * Scale posture: inference cost is O(sampleRows), never O(file) — a
  * 100 TB CSV is planned from a 100-row prefix, exactly like the
  * reference. The full read then uses the inferred `StructType`
  * explicitly (single pass, no Spark two-pass inferSchema).
  */
object SchemaInference {

  val DefaultSampleRows = 100

  /** Inference outcome: the lattice schema plus how many rows the
    * sample actually contained (≤ sampleRows for short files). */
  final case class InferredSample(schema: StructType, rowsSampled: Int)

  /** Infer a lattice schema for a header-ful CSV. */
  def inferCsv(spark: SparkSession, path: String,
               sampleRows: Int = DefaultSampleRows): StructType =
    inferCsvSample(spark, path, sampleRows).schema

  /** As [[inferCsv]], but also report the sampled row count (one read,
    * one collect — no separate counting job). */
  def inferCsvSample(spark: SparkSession, path: String,
                     sampleRows: Int = DefaultSampleRows): InferredSample = {
    val sample = spark.read
      .option("header", "true")
      .csv(path)           // all-string read: no full-file inference pass
      .limit(sampleRows)
    val rows = sample.collect() // bounded: ≤ sampleRows rows
    InferredSample(inferFields(sample.columns, rows), rows.length)
  }

  /** Infer from an all-string sample DataFrame (header already parsed). */
  def infer(sample: DataFrame): StructType =
    inferFields(sample.columns, sample.collect())

  private def inferFields(names: Array[String],
                          rows: Array[Row]): StructType = {
    val fields = names.zipWithIndex.map { case (name, i) =>
      val values = rows.iterator
        .map(r => if (r.isNullAt(i)) null else r.getString(i))
        .filter(v => v != null && v.nonEmpty)
        .toSeq
      StructField(TypeLattice.sanitize(name), inferColumn(values),
        nullable = true)
    }
    StructType(fields.toSeq)
  }

  /** Column-level sniff: the narrowest lattice type every non-empty
    * sampled value parses as; empty sample → catch-all string. */
  private[schema] def inferColumn(values: Seq[String]): DataType =
    if (values.isEmpty) StringType
    else if (values.forall(isBool)) BooleanType
    else if (values.forall(isLong)) LongType
    else if (values.forall(isDouble)) DoubleType
    else if (values.forall(isTimestamp)) TimestampType
    else StringType

  private def isBool(s: String): Boolean = {
    val t = s.trim.toLowerCase
    t == "true" || t == "false"
  }

  private def isLong(s: String): Boolean =
    try { s.trim.toLong; true } catch { case _: NumberFormatException => false }

  private def isDouble(s: String): Boolean =
    try {
      val t = s.trim
      // Reject inf/nan spellings: pandas would parse the column as
      // object (→ VARCHAR) unless values are plainly numeric.
      !t.equalsIgnoreCase("nan") && !t.toLowerCase.contains("inf") &&
        { t.toDouble; true }
    } catch { case _: NumberFormatException => false }

  // Only formats the subsequent typed read actually parses (the
  // ingest's try_cast to timestamp is ISO-ish, seconds optional):
  // inferring a type the reader can't parse would silently NULL the
  // whole column. The minute forms matter: one `2025-01-28 14:00` in
  // the sample otherwise typed a TLC pickup column as string.
  private val TsPatterns = Seq(
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm", "yyyy-MM-dd'T'HH:mm", "yyyy-MM-dd")

  private def isTimestamp(s: String): Boolean = {
    // strip fractional seconds / trailing zone designator for the match
    val t = s.trim.replaceFirst("\\.\\d+", "").stripSuffix("Z")
    TsPatterns.exists { p =>
      val f = new java.text.SimpleDateFormat(p)
      f.setLenient(false)
      val pos = new java.text.ParsePosition(0)
      val parsed = f.parse(t, pos)
      // require the WHOLE string consumed: SimpleDateFormat accepts
      // prefixes ('2025-01-01 meeting notes' would otherwise pass)
      parsed != null && pos.getIndex == t.length
    }
  }
}
