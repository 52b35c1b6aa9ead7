package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, split, trim}

/** Shared whitespace tokenizer for the text/dedup/array operators.
  *
  * One definition on purpose: every oracle-checked query's DuckDB side
  * spells this as `string_split_regex(trim(text), '[ \t\n\v\f\r]+')`, so the
  * Spark side must tokenize identically everywhere — a drifted copy in
  * one module would silently break cross-engine comparison for just
  * that module's queries.
  *
  * The whitespace class is EXPLICIT on both sides (same discipline as
  * [[graft.text.Normalize.canonical]]): Java's `\s` includes U+000B
  * (vertical tab) but DuckDB/RE2's `\s` does not, so a `\s+` spelling
  * would silently break the byte-identity gate on any document
  * containing a VT. The class below IS Java's `\s` — behavior is
  * unchanged on the Spark side; the oracle side gained VT.
  *
  * [[spanTokens]] and [[assocItems]] are likewise the one body of
  * their zones: a memo serves whichever body built its key first, so
  * a drifted copy would make answers depend on query order.
  */
object Tokens {
  def whitespace(c: Column): Column =
    split(trim(c), "[ \\t\\n\\x0B\\f\\r]+")

  /** The `span-tokens` zone: (doc_id, w = [[whitespace]] tokens of the
    * text), tokenized once per (dir, application). */
  def spanTokens(s: SparkSession, dir: String): DataFrame =
    Scratch.memo(s, "span-tokens", s"span-tokens:$dir")(
      graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), whitespace(col("text")).as("w")))

  /** The `assoc-items` zone: DISTINCT (doc_id, tok) over
    * [[spanTokens]] — association-rule items, topic-term doc counts. */
  def assocItems(s: SparkSession, dir: String): DataFrame =
    Scratch.memo(s, "assoc-items", s"assoc-items:$dir")(
      spanTokens(s, dir)
        .select(col("doc_id"), explode(col("w")).as("tok"))
        .distinct())

  /** Word n-grams (space-joined) over an ALREADY-tokenized array
    * column; arrays shorter than `n` collapse to ONE n-gram of the
    * whole text. DuckDB spelling:
    * `CASE WHEN len(w) < n THEN [array_to_string(w, ' ')]
    *  ELSE [array_to_string(w[i+1:i+n], ' ') for i in range(0, len(w)-n+1)] END`.
    * Callers wanting distinct n-grams wrap in `array_distinct`
    * (`list_distinct`).
    *
    * Deliberately NO text-column convenience overload: tokenize once
    * into a column and pass that. Passing `whitespace(text)` directly
    * inlines the split into the per-element lambda — O(tokens²) splits
    * per document (measured 12× on q89). */
  def ngramsOf(w: Column, n: Int): Column = {
    import org.apache.spark.sql.functions._
    when(size(w) < n, array(concat_ws(" ", w)))
      .otherwise(transform(
        sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n)))))
  }
}
