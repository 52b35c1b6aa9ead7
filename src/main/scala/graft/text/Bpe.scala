package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule}
import graft.util.{Checkpoints, Tokens}

/** Byte-pair-encoding tokenizer TRAINING — the producer for the vocab
  * q111's coverage analysis consumes. Classic Sennrich-style BPE:
  * start from characters, repeatedly merge the globally most frequent
  * adjacent symbol pair.
  *
  * Scale shape — the part that matters at 100 TB: training runs on the
  * distinct-WORD frequency table, not the token stream. The corpus is
  * scanned ONCE (word → freq aggregation); every merge round then
  * operates on that table, which is orders of magnitude smaller than
  * the corpus (Heaps' law) and shrinks further as merges fuse symbols.
  * Per round: one explode of adjacent pairs weighted by word freq, one
  * partial-aggregated count, one global argmax (tiny), one map-side
  * merge application. The driver holds only the argmax pair per round
  * and the final merge table — never word data. Real pipelines also
  * cap the word table (sample or min-freq floor) — the `minFreq`
  * parameter is that floor.
  *
  * Determinism: ties on pair count break lexicographically, so the
  * learned merge sequence is a pure function of the corpus.
  */
object Bpe extends QueryModule {

  /** One learned merge: rank = order learned, (left, right) → fused. */
  final case class Merge(rank: Int, left: String, right: String)

  /** The trained tokenizer as a FROZEN ARTIFACT — how BPE vocabs ship
    * in practice (trained once on a reference corpus, then applied to
    * every corpus thereafter; retraining per input would change token
    * ids under consumers). Learned by [[learnBpe]] on the sf0.01
    * documents corpus via `graft.tools.BpeFreeze` (the regeneration
    * provenance); q169 encodes with THIS list, and its oracle splices
    * the same list in as literals, so the whole apply-the-vocab path
    * — char split, ranked merge application, per-doc rollup — sits
    * under the hash gate. */
  val FrozenMerges: Seq[Merge] = Seq(
    Merge(0, "e", "r"),
    Merge(1, "i", "n"),
    Merge(2, "o", "w"),
    Merge(3, "o", "r"),
    Merge(4, "s", "t"),
    Merge(5, "m", "er"),
    Merge(6, "a", "t"),
    Merge(7, "l", "u"),
    Merge(8, "a", "r"),
    Merge(9, "p", "ar"),
    Merge(10, "j", "o"),
    Merge(11, "jo", "in"))

  /** The word-frequency table: one corpus scan, then training never
    * touches the corpus again. */
  private def wordFreqs(s: SparkSession, dir: String,
                        minFreq: Long): DataFrame =
    graft.Tables.load(s, dir, "documents")
      .select(explode(Tokens.whitespace(lower(col("text")))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .where(col("freq") >= minFreq)

  /** Train `nMerges` BPE merges on the corpus at `dir`. Returns the
    * ordered merge table. Symbols start as single characters; each
    * round fuses the most frequent adjacent pair (count desc, then
    * (left, right) asc — deterministic). Stops early if no pair
    * remains. */
  def learnBpe(s: SparkSession, dir: String, nMerges: Int = 32,
               minFreq: Long = 1L): Seq[Merge] = {
    // (symbol sequence, freq) per distinct word — the training state,
    // rooted per round like the CC loop; the answer is the driver-side
    // merge table, so the final round is freed too (keep = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    Checkpoints.iterate("learnBpe", wordFreqs(s, dir, minFreq)
        .select(split(col("word"), "").as("syms"), col("freq")),
      Checkpoints.Rounds(nMerges), keep = false) { (words, _) =>
      // adjacent-pair counts, weighted by word frequency; the argmax
      // row is the ONLY thing that reaches the driver
      val best = words
        .select(posexplode(col("syms")).as(Seq("i", "sym")),
          col("syms"), col("freq"))
        .where(col("i") < size(col("syms")) - 1)
        .select(col("sym").as("l"),
          element_at(col("syms"), col("i") + 2).as("r"), col("freq"))
        .groupBy("l", "r").agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      // no pair left: training stops early
      best.headOption.map { b =>
        val (l, r) = (b.getString(0), b.getString(1))
        merges += Merge(merges.length, l, r)
        // map-side merge application over the word table: fuse every
        // non-overlapping (l, r) left-to-right — as a COLUMN fold
        // (see applyMergeCol), so each round's plan is a plain
        // Project over the checkpoint, with no
        // DeserializeToObject/SerializeFromObject encoder round-trip
        // per word (the previous typed `.map` spelling paid one)
        words.select(applyMergeCol(col("syms"), l, r).as("syms"),
          col("freq"))
      }
    }
    merges.toSeq
  }

  /** [[applyMerge]] as a column expression: a left fold (`aggregate`)
    * that appends each symbol, fusing it with the accumulator's last
    * element when that element is `l` and the symbol is `r`. This is
    * exactly the imperative left-to-right non-overlapping semantics:
    * a fused token equals `l + r`, which can never equal `l` (symbols
    * are non-empty), so a token fused this round can never fuse again
    * this round — the i += 2 skip, expressed as a fold invariant
    * (property-tested against [[applyMerge]] in BpeSpec, overlap
    * chains included). `try_element_at` keeps the empty-accumulator
    * probe null-safe under ANSI mode. Arrays stay ArrayData end to
    * end — no per-row encoder ser/de in the training loop. */
  private[text] def applyMergeCol(syms: org.apache.spark.sql.Column,
                                  l: String, r: String)
      : org.apache.spark.sql.Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(try_element_at(acc, lit(-1)) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Fuse every non-overlapping adjacent (l, r) in left-to-right
    * order — the standard BPE application step. */
  private[text] def applyMerge(syms: Seq[String], l: String,
                               r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Encode a document table with a learned merge list: per word,
    * apply every merge in rank order. Map-side only (the merge table
    * rides into the closure — KB-scale; it IS the tokenizer). Emits
    * per-doc BPE token counts alongside the char/word baselines, the
    * compression evidence a tokenizer choice is judged by. */
  def encode(s: SparkSession, dir: String, merges: Seq[Merge]): DataFrame = {
    import s.implicits._
    val ordered = merges.sortBy(_.rank).map(m => (m.left, m.right))
    // null-text guard (the corpus contains null documents): encode
    // them as zero-word rows, matching the oracle's coalesce
    val occ = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        Tokens.whitespace(lower(coalesce(col("text"), lit("")))).as("w"))
      .select(col("doc_id"), explode(col("w")).as("word"))
      .where(col("word") =!= "")
    // the merge fold runs on DISTINCT words (the Heaps'-law reduction
    // the trainer and the oracle both use — a word's encoding does
    // not depend on which document it is in), then joins back by
    // word for the per-document rollup; re-encoding every occurrence
    // was the sf1 cost (measured 13 s → the distinct core's fold)
    val wtok = occ.select(col("word")).distinct()
      .as[String]
      .map { word =>
        var syms: Seq[String] = word.split("").toSeq
        ordered.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
        // code points, not UTF-16 units — split("") yields one
        // symbol per code point, so this is the matching baseline
        (word, syms.length.toLong,
          word.codePointCount(0, word.length).toLong)
      }
      .toDF("word", "ntok", "nchr")
    val stats = occ.join(wtok, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nchr")).as("n_chars"),
        sum(col("ntok")).as("n_bpe_tokens"))
    graft.Tables.load(s, dir, "documents").select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** q169: encode the corpus with the [[FrozenMerges]] tokenizer —
    * memoized: q169's gate scan and q190's fertility rollup both
    * consume it, and the merge-fold map is the expensive part (the
    * ≥2-heavy-consumer materialize rule). */
  def encodeFrozen(s: SparkSession, dir: String): DataFrame =
    // zone scans do not preserve stored order — the surface re-sorts
    graft.util.Scratch.memo(s, "bpe-enc",
      s"bpe-enc:$dir:${FrozenMerges.size}")(
      encode(s, dir, FrozenMerges))
      .orderBy("doc_id")

  /** q190: tokenizer fertility scorecard — per source: BPE tokens
    * per word (fertility) and per character (compression), THE
    * numbers a tokenizer choice is judged by across domains
    * (multilingual fertility imbalance is the classic failure a
    * per-source report catches). Pure consumer of the q169 encode:
    * exact integer sums per source, two single double divisions.
    * Null-text docs contribute zero to every sum by the q169
    * contract. */
  def fertilityBySource(s: SparkSession, dir: String): DataFrame = {
    val enc = encodeFrozen(s, dir)
    val src = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    enc.join(src, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_chars"), col("n_bpe_tokens"),
        (col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double")).as("fertility"),
        (col("n_bpe_tokens").cast("double") /
          col("n_chars").cast("double")).as("tokens_per_char"))
      .orderBy("source")
  }

  private def sqlLit(s: String): String =
    "'" + s.replace("'", "''") + "'"

  /** One merge-application step as generated CTEs: w{k} → w{k+1},
    * keyed by distinct word. The greedy left-to-right non-overlap
    * rule relationally: adjacent-match positions form ISLANDS of
    * consecutive indices (overlap is only possible when left = right
    * symbol), and greedy fuses the 1st, 3rd, 5th… position of each
    * island; the row AFTER a fused position is the consumed right
    * symbol and is dropped on rebuild. Verified ≡ [[applyMerge]] in
    * BpeSpec (chain cases included). */
  private def stepSql(k: Int, m: Merge): String = {
    val (l, r) = (sqlLit(m.left), sqlLit(m.right))
    s"""e$k AS (
       |  SELECT word, s, i FROM w$k, LATERAL (
       |    SELECT unnest(syms) AS s,
       |      generate_subscripts(syms, 1) AS i)),
       |m$k AS (
       |  SELECT word, i, s,
       |    CASE WHEN s = $l AND lead(s) OVER (PARTITION BY word
       |      ORDER BY i) = $r THEN 1 ELSE 0 END AS mm
       |  FROM e$k),
       |i$k AS (
       |  SELECT word, i, s, mm,
       |    CASE WHEN mm = 1 THEN i - row_number() OVER (
       |      PARTITION BY word, mm ORDER BY i) END AS grp
       |  FROM m$k),
       |f$k AS (
       |  SELECT word, i, s,
       |    CASE WHEN mm = 1 AND row_number() OVER (
       |      PARTITION BY word, grp ORDER BY i) % 2 = 1
       |    THEN 1 ELSE 0 END AS fuse
       |  FROM i$k),
       |k$k AS (
       |  SELECT word, i, s, fuse,
       |    lag(fuse) OVER (PARTITION BY word ORDER BY i) AS pf
       |  FROM f$k),
       |w${k + 1} AS (
       |  SELECT word, list(CASE WHEN fuse = 1 THEN s || $r ELSE s END
       |    ORDER BY i) AS syms
       |  FROM k$k WHERE coalesce(pf, 0) = 0 GROUP BY word)""".stripMargin
  }

  /** The q169 oracle, code-generated from [[FrozenMerges]] (one CTE
    * chain step per merge — the list IS the tokenizer, spliced in as
    * literals so the oracle can never drift from the shipped vocab).
    * Merge application runs on the DISTINCT-word relation (the same
    * Heaps'-law reduction the Spark trainer uses) and joins back by
    * word for the per-document rollup. */
  /** The encode chain through `docstats` — shared by the q169 and
    * q190 oracles (one spelling of the tokenizer; the report cannot
    * drift from the encode). */
  private lazy val encodeCtesSql: String = {
    val steps = FrozenMerges.sortBy(_.rank).zipWithIndex
      .map { case (m, k) => stepSql(k, m) }.mkString(",\n")
    val last = FrozenMerges.size
    s"""words AS (
         |  SELECT d.doc_id, t.word
         |  FROM documents d, LATERAL unnest(string_split_regex(
         |    trim(lower(coalesce(d.text, ''))), '[ \\t\\n\\v\\f\\r]+'))
         |    AS t(word)
         |  WHERE t.word != ''),
         |uw AS (SELECT DISTINCT word FROM words),
         |w0 AS (SELECT word, string_split_regex(word, '') AS syms
         |       FROM uw),
         |$steps,
         |wtok AS (
         |  SELECT word, CAST(len(syms) AS BIGINT) AS ntok,
         |    CAST(length(word) AS BIGINT) AS nchr
         |  FROM w$last),
         |docstats AS (
         |  SELECT w.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(wt.nchr) AS BIGINT) AS n_chars,
         |    CAST(sum(wt.ntok) AS BIGINT) AS n_bpe_tokens
         |  FROM words w JOIN wtok wt USING (word)
         |  GROUP BY w.doc_id),
         |percdoc AS (
         |  SELECT d.doc_id,
         |    coalesce(s.n_words, CAST(0 AS BIGINT)) AS n_words,
         |    coalesce(s.n_chars, CAST(0 AS BIGINT)) AS n_chars,
         |    coalesce(s.n_bpe_tokens, CAST(0 AS BIGINT))
         |      AS n_bpe_tokens
         |  FROM documents d LEFT JOIN docstats s USING (doc_id))""".stripMargin
  }

  lazy val records: Seq[Query] = Seq(
    Query("q169_bpe_encode", encodeFrozen(_, _),
      s"""WITH $encodeCtesSql
         |SELECT doc_id, n_words, n_chars, n_bpe_tokens
         |FROM percdoc ORDER BY doc_id""".stripMargin),
    Query("q190_bpe_fertility", fertilityBySource(_, _),
      s"""WITH $encodeCtesSql,
         |bysrc AS (
         |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(p.n_words) AS BIGINT) AS n_words,
         |    CAST(sum(p.n_chars) AS BIGINT) AS n_chars,
         |    CAST(sum(p.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens
         |  FROM percdoc p JOIN documents d USING (doc_id)
         |  GROUP BY 1)
         |SELECT source, n_docs, n_words, n_chars, n_bpe_tokens,
         |  CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS fertility,
         |  CAST(n_bpe_tokens AS DOUBLE) / CAST(n_chars AS DOUBLE)
         |    AS tokens_per_char
         |FROM bysrc ORDER BY source""".stripMargin))
}
