package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}

/** Text canonicalization — the normalize-before-hash step of a dedup
  * pipeline: Unicode NFC ([[graft.functions.NfcNormalize]], native
  * codegen), lowercase, whitespace collapse, trim. Two crawls of the
  * same page that differ only in combining-character encoding or
  * spacing canonicalize to identical bytes, so the exact-dedup digest
  * (q34) sees them as the duplicates they are.
  */
object Normalize extends QueryModule {

  /** The canonical text: NFC → lower → collapse runs of whitespace →
    * trim. NFC runs FIRST so case-folding sees composed code points.
    *
    * The whitespace class is EXPLICIT on purpose: Java's `\s` includes
    * U+000B (vertical tab) but DuckDB/RE2's does not, so the `\s+`
    * spelling is a latent cross-engine divergence in exactly the
    * byte-identity contract this operator exists for. The class below
    * is the same five characters + space in both engines (the oracle
    * spells it `[ \t\n\v\f\r]+`). */
  def canonical(c: Column): Column = {
    val nfc = org.apache.spark.sql.GraftBridge.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.GraftBridge.expression(c)))
    trim(regexp_replace(lower(nfc), "[ \\t\\n\\x0B\\f\\r]+", " "))
  }

  /** q120: canonicalization witness over the corpus. The corpus text
    * is ASCII (the NFC fast path), so the query PREPENDS a fixed
    * decomposed-Unicode preamble — `Cafe`+U+0301, U+212B (Angstrom
    * sign), `o`+U+0308, doubled spaces — to every document before
    * canonicalizing: combining marks must compose (é, ö), the
    * singleton U+212B must map to U+00C5 (å after lowering), and the
    * char counts must shrink accordingly. DuckDB replays the identical
    * construction through its own `nfc_normalize`, so the oracle gates
    * byte-identity of the two engines' normalizers over both the
    * synthetic preamble and the real corpus bytes.
    */
  def nfcClean(s: SparkSession, dir: String): DataFrame = {
    // decomposed on purpose: e+U+0301, U+212B, o+U+0308 — NFC must
    // compose all three (same bytes DuckDB builds via chr())
    val raw = concat(
      lit("Cafe\u0301 \u212Bngstro\u0308m \u000B "),
      substring(col("text"), 1, 40))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), length(raw).as("raw_chars"),
        canonical(raw).as("clean"))
      .withColumn("clean_chars", length(col("clean")))
      .select(col("doc_id"), col("raw_chars"), col("clean"),
        col("clean_chars"))
      .orderBy("doc_id")
  }

  lazy val records: Seq[Query] = Seq(
    Query("q120_nfc_clean", nfcClean(_, _),
      raw"""WITH r AS (
        |  SELECT doc_id,
        |    'Cafe' || chr(769) || ' ' || chr(8491) || 'ngstro' ||
        |      chr(776) || 'm ' || chr(11) || ' ' || substr(text, 1, 40) AS raw
        |  FROM documents)
        |SELECT doc_id, length(raw) AS raw_chars,
        |  trim(regexp_replace(lower(nfc_normalize(raw)),
        |    '[ \t\n\v\f\r]+', ' ', 'g')) AS clean,
        |  length(trim(regexp_replace(lower(nfc_normalize(raw)),
        |    '[ \t\n\v\f\r]+', ' ', 'g'))) AS clean_chars
        |FROM r ORDER BY doc_id""".stripMargin))
}
