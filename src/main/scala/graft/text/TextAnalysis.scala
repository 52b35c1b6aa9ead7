package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.util.Tokens

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table: token statistics, quality scoring, language-ID,
  * and canonical fingerprinting. All are single-pass, map-side-only
  * column expressions (no shuffle except the final presentation sort) —
  * at 100 TB these run at scan speed with whole-stage codegen.
  *
  * Every operator here is deliberately expressible in both Spark and
  * ANSI/DuckDB SQL with bit-identical results (integer counts, fixed
  * double-arithmetic order), so the whole module is oracle-checked.
  */
object TextAnalysis extends QueryModule {

  /** Whitespace tokenization, both engines split on the same RE2/Java
    * compatible pattern. */
  private def tokens(c: Column): Column = Tokens.whitespace(c)

  /** q30: per-document token statistics. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      size(array_distinct(tokens(col("text")))).as("n_distinct_tokens"),
      length(col("text")).as("len_chars"))
      .orderBy("doc_id")

  /** The q31 relation WITHOUT the presentation sort —
    * `(doc_id, n_tokens, quality)` — for downstream consumers (q147's
    * token-budget selection) that impose their own ordering; an
    * embedded `orderBy` would plan a wasted global range sort under
    * the consumer's window. ONE formula definition: q31 and every
    * consumer's oracle share this exact double-arithmetic order, so
    * the quality doubles stay bit-identical across engines. */
  private[graft] def qualityRelation(s: SparkSession,
                                     dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val nStop = size(expr(
      "filter(split(trim(text), '\\\\s+'), w -> w IN ('the', 'a', 'of', 'and'))"))
    val stopRatio = nStop / nTok
    val lenSat = least(lit(1.0), nTok / lit(100.0))
    val ttr = size(array_distinct(toks)) / nTok
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      nTok.as("n_tokens"),
      (stopRatio * 0.3 + lenSat * 0.4 + ttr * 0.3).as("quality"))
  }

  /** q31: heuristic quality score — stopword ratio, length saturation,
    * type-token ratio, combined with fixed weights. The exact formula
    * is engine-defined; what matters is determinism + scan-speed. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    qualityRelation(s, dir).orderBy("doc_id")

  /** q32: language-ID via marker-token counts (n-gram heuristic class;
    * CJK presence short-circuits). Fixed priority on ties. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    def markers(pat: String): Column =
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
    val cEn = markers("\\b(the|of|and)\\b")
    val cFr = markers("\\b(le|la|et|les)\\b")
    val cEs = markers("\\b(el|los|las|y)\\b")
    val cDe = markers("\\b(der|die|und|das)\\b")
    val cZh = markers("[\\x{4e00}-\\x{9fff}]")
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      when(cZh > 0, "zh")
        .when(cEn >= greatest(cFr, cEs, cDe), "en")
        .when(cFr >= greatest(cEs, cDe), "fr")
        .when(cEs >= cDe, "es")
        .otherwise("de").as("lang_pred"))
      .orderBy("doc_id")
  }

  /** q210: LANGUAGE-ID EVAL — row-normalized confusion matrix of the
    * q32 classifier against the corpus truth label, plus overall
    * accuracy (the classifier-audit the q181 ROC family does for the
    * quality score, done for langid): one (truth, pred)-keyed count
    * agg, per-class totals joined back, two final double ratios over
    * exact integers. The labeled slice a real pipeline evaluates on
    * is a sample; here the whole corpus carries labels. */
  def langidEval(s: SparkSession, dir: String): DataFrame = {
    val pred = langId(s, dir).select(col("doc_id"), col("lang_pred"))
    val truth = Tables.load(s, dir, "documents")
      .select(col("doc_id"), coalesce(col("lang"), lit("??")).as("lang"))
    val cm = pred.join(truth, "doc_id")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val tr = cm.groupBy(col("lang")).agg(sum(col("n")).as("n_truth"))
    val acc = cm.agg(
      (sum(when(col("lang") === col("lang_pred"), col("n"))
        .otherwise(0L)).cast("double") /
        sum(col("n")).cast("double")).as("accuracy"))
    cm.join(tr, "lang")
      .crossJoin(broadcast(acc))
      .select(col("lang"), col("lang_pred"), col("n"), col("n_truth"),
        (col("n").cast("double") / col("n_truth").cast("double"))
          .as("frac"),
        col("accuracy"))
      .orderBy("lang", "lang_pred")
  }

  /** q33: canonical fingerprint (sorted distinct lowercase tokens,
    * md5) — the normalize-and-hash doc identity used for fuzzy dedup
    * blocking. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(tokens(lower(col("text"))))),
        " ")).as("fp"))
      .orderBy("doc_id")

  /** q95: corpus token frequency — explode (UNNEST) + groupBy count,
    * the vocabulary-building primitive. Map-side partial counts make
    * the shuffle carry one row per (partition, token), not per
    * occurrence. */
  def tokenFrequency(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))

  /** q87: benchmark-contamination scan — the eval-set hygiene check a
    * training pipeline runs before every release: which corpus docs
    * share word n-grams with the held-out benchmark set, and how much.
    * Here the "benchmark" is the deterministic 15% slice
    * `doc_id % 20 < 3`; real pipelines pass the eval corpus and use
    * 8-13-gram windows (3 here because the synthetic docs are short).
    *
    * Scale shape: n-grams are hashed to 8 bytes BEFORE the join
    * ([[graft.dedup.Md5Prefix]] — cross-engine, so the oracle replays
    * it); the benchmark gram set is distinct + broadcast (real
    * benchmark sets are ≪ corpus); the corpus side is one scan,
    * left-semi probed, counts partial-aggregated. Nothing quadratic,
    * no string shuffles. */
  def contamination(s: SparkSession, dir: String, n: Int = 3): DataFrame = {
    import graft.dedup.Md5Prefix
    val grams = Tables.load(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(array_distinct(Tokens.ngramsOf(col("w"), n))).as("g"))
      .select(col("doc_id"), Md5Prefix.h(col("g")).as("gh"))
    val bench = grams.where(col("doc_id") % 20 < 3)
      .select(col("gh")).distinct()
    // ONE corpus-side pass: left join against the broadcast benchmark
    // set (distinct ⇒ at most one match per gram) and count hits and
    // totals in the same aggregation — a semi-join + separate totals
    // aggregate would plan the gram pipeline once per branch (the
    // multi-branch recompute trap; see Dedup.dedupClusters).
    grams.where(col("doc_id") % 20 >= 3)
      .join(broadcast(bench.withColumn("hit", lit(1))), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit") / col("n_grams")).as("contamination"))
      .orderBy("doc_id")
  }

  /** q109: contamination of the ACTUAL eval split — q87's n-gram
    * overlap scan composed with q102's hash split: every val/test doc
    * scored for 3-gram overlap against the train partition. This is
    * the release gate a training pipeline runs after splitting: "did
    * anything in my held-out set leak from (or into) train?".
    *
    * Scale shape differs from q87 deliberately: there the benchmark
    * side is tiny and broadcast-hinted; here the reference set is
    * TRAIN — 90% of the corpus — so no broadcast hint is given and at
    * real scale (train grams ≫ autoBroadcastJoinThreshold) the gram
    * join is a key-partitioned shuffle join on the 8-byte gram hash.
    * At gate scale the optimizer still broadcasts the small distinct
    * set — that's the threshold doing its job, not the 100 TB shape.
    * The probe side (val/test grams) is the small one; counts
    * partial-aggregate. Train membership is
    * [[graft.ops.Sampling.isTrainDoc]] — the same predicate as the
    * q102 split, so the gate always scores the ACTUAL eval set. */
  def splitContamination(s: SparkSession, dir: String, n: Int = 3): DataFrame = {
    import graft.dedup.Md5Prefix
    val grams = Tables.load(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("is_train", graft.ops.Sampling.isTrainDoc(col("doc_id")))
      .select(col("doc_id"), col("is_train"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("is_train"),
        explode(array_distinct(Tokens.ngramsOf(col("w"), n))).as("g"))
      .select(col("doc_id"), col("is_train"), Md5Prefix.h(col("g")).as("gh"))
    val trainGrams = grams.where(col("is_train"))
      .select(col("gh")).distinct()
    grams.where(!col("is_train"))
      .join(trainGrams.withColumn("hit", lit(1)), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit") / col("n_grams")).as("contamination"))
      .orderBy("doc_id")
  }

  /** q141: train-set DECONTAMINATION — the destructive counterpart of
    * q109, in the direction decontamination actually runs: REMOVE from
    * TRAIN every document that carries eval-split n-grams (you can
    * regenerate a training set; a leaked eval set is burned). Every
    * train doc is emitted with its gram counts and a `kept` verdict —
    * hit fraction ≤ 5% by integer cross-multiplication (`n_hit·20 ≤
    * n_grams`; no float compare at the boundary), the q113-style audit
    * trail for a destructive rewrite.
    *
    * Scale shape mirrors q109 with the sides swapped: the EVAL gram
    * set is the small distinct side (≤10% of the corpus) — broadcast
    * at gate scale, gram-hash shuffle join beyond the threshold; the
    * train side is one scan with counts partial-aggregated. */
  def decontaminate(s: SparkSession, dir: String, n: Int = 5): DataFrame = {
    import graft.dedup.Md5Prefix
    val grams = Tables.load(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("is_train", graft.ops.Sampling.isTrainDoc(col("doc_id")))
      .select(col("doc_id"), col("is_train"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("is_train"),
        explode(array_distinct(Tokens.ngramsOf(col("w"), n))).as("g"))
      .select(col("doc_id"), col("is_train"), Md5Prefix.h(col("g")).as("gh"))
    val evalGrams = grams.where(!col("is_train"))
      .select(col("gh")).distinct()
    grams.where(col("is_train"))
      .join(evalGrams.withColumn("hit", lit(1)), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit") * 20 <= col("n_grams")).as("kept"))
      .orderBy("doc_id")
  }

  /** q88: PII detection + redaction — the scrub pass before text joins
    * a training corpus. Regex families are RE2-safe (no lookaround) so
    * Spark and DuckDB agree byte-for-byte. The synthetic tables carry
    * no PII, so the query derives a deterministic contact string per
    * customer (email always, phone on even keys) and the operator
    * detects and redacts it — counts witness the detector, the
    * redacted text witnesses the rewriter. Map-side only: scan speed
    * at 100 TB. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9.]+@[a-z0-9.-]+"
    val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
    val contact = concat(
      col("c_name"), lit(" <user"), col("c_custkey"),
      lit("@example.com>"),
      when(col("c_custkey") % 2 === 0,
        concat(lit(" ph +1-"),
          lpad((col("c_custkey") % 900 + 100).cast("string"), 3, "0"),
          lit("-"),
          lpad((col("c_custkey") % 9000 + 1000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"), contact.as("contact"))
      .select(col("c_custkey"),
        regexp_count(col("contact"), lit(emailRe)).as("n_emails"),
        regexp_count(col("contact"), lit(phoneRe)).as("n_phones"),
        regexp_replace(
          regexp_replace(col("contact"), emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]").as("redacted"))
      .orderBy("c_custkey")
  }

  /** q89: repetition scoring — the degenerate-text filter (boilerplate,
    * keyboard mashing, decoding loops): duplicate-bigram ratio and
    * adjacent-token repeat ratio, both linear per document and
    * map-side only. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    // Tokenize and build bigrams ONCE into columns. The first cut
    // computed everything from the text column in one projection:
    // `element_at(w, i)` inside the lambda re-evaluated the inlined
    // split() per ELEMENT — O(tokens²) splits per document, 16 s at
    // sf0.1 vs ~0.3 s for this shape. The adjacent-repeat count is a
    // zip_with of the token array against its own 1-shift (linear).
    val adj = when(size(col("w")) < 2, lit(0)).otherwise(
      size(filter(
        zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => a === b),
        x => x)))
    // spreadScan (§2.5, the q149 precedent): the one-row-group scan
    // ran tokenize + bigrams + array_distinct on one core — twice,
    // because the output range sort samples its child
    graft.util.Sessions.spreadScan(s, dir,
        Tables.load(s, dir, "documents"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("g2", Tokens.ngramsOf(col("w"), 2))
      .select(
        col("doc_id"),
        size(col("w")).as("n_tokens"),
        (lit(1.0) - size(array_distinct(col("g2"))) / size(col("g2")))
          .as("dup_2gram_ratio"),
        (adj / size(col("g2"))).as("adj_repeat_ratio"))
      .orderBy("doc_id")
  }

  /** q238: readability scoring (Flesch reading ease) — the classic
    * curation feature CCNet-style pipelines bucket documents by. All
    * three inputs are EXACT integers from engine-parallel string
    * surgery: words = whitespace tokens; sentences = maximal
    * `[.!?]+` runs (floored at 1 so headless fragments score);
    * syllables ≈ vowel groups (the standard cheap proxy), counted as
    * len(runs→one char) − len(runs→empty). The score itself is the
    * ONE final double expression (same literal constants, same
    * operation tree → bit-identical IEEE in both engines); docs with
    * zero words score NULL rather than dividing by zero.
    *
    * Scale shape: pure map-side column math on the documents scan —
    * no shuffle at all before the output sort. */
  def readability(s: SparkSession, dir: String): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val words = size(graft.util.Tokens.whitespace(col("text")))
    val sentRuns = length(regexp_replace(t, "[.!?]+", "."))
      .minus(length(regexp_replace(t, "[.!?]", "")))
    val sentences = greatest(sentRuns.cast("long"), lit(1L))
    val vg = (length(regexp_replace(t, "[aeiouAEIOU]+", "V")) -
      length(regexp_replace(t, "[aeiouAEIOU]+", ""))).cast("long")
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), words.cast("long").as("n_words"),
        sentences.as("n_sentences"), vg.as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0,
          lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double"))))
      .orderBy("doc_id")
  }

  /** The q31 quality formula as ONE DuckDB expression over `text` —
    * spliced into q31's oracle AND q147's (token-budget selection), so
    * the double-arithmetic order (which both engines must reproduce
    * bit-for-bit for the ORDER BY quality to agree) can never drift
    * between the two oracles. Mirrors [[qualityRelation]] term by
    * term. */
  private[graft] val qualitySql: String =
    """(len(list_filter(string_split_regex(trim(text), '[ \t\n\v\f\r]+'),
      |       w -> w IN ('the', 'a', 'of', 'and')))
      |     / len(string_split_regex(trim(text), '[ \t\n\v\f\r]+'))) * 0.3
      |  + LEAST(1.0, len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) / 100.0) * 0.4
      |  + (len(list_distinct(string_split_regex(trim(text), '[ \t\n\v\f\r]+')))
      |     / len(string_split_regex(trim(text), '[ \t\n\v\f\r]+'))) * 0.3""".stripMargin

  /** The q32 prediction CASE — shared with q210 so the eval can
    * never drift from the classifier it scores. */
  private val LangPredCaseSql: String =
    """  CASE WHEN len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) > 0 THEN 'zh'
      |    WHEN len(regexp_extract_all(text, '\b(the|of|and)\b')) >=
      |      GREATEST(len(regexp_extract_all(text, '\b(le|la|et|les)\b')),
      |               len(regexp_extract_all(text, '\b(el|los|las|y)\b')),
      |               len(regexp_extract_all(text, '\b(der|die|und|das)\b'))) THEN 'en'
      |    WHEN len(regexp_extract_all(text, '\b(le|la|et|les)\b')) >=
      |      GREATEST(len(regexp_extract_all(text, '\b(el|los|las|y)\b')),
      |               len(regexp_extract_all(text, '\b(der|die|und|das)\b'))) THEN 'fr'
      |    WHEN len(regexp_extract_all(text, '\b(el|los|las|y)\b')) >=
      |      len(regexp_extract_all(text, '\b(der|die|und|das)\b')) THEN 'es'
      |    ELSE 'de' END AS lang_pred""".stripMargin

  lazy val records: Seq[Query] = Seq(
    // length DIFFERENCES count regex runs, so UTF-16-unit vs
    // codepoint length semantics cancel; DuckDB regexp_replace needs
    // the explicit 'g' flag to match Spark's replace-all
    Query("q238_readability", readability(_, _),
      raw"""WITH d AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '[ \t\n\v\f\r]+'))
        |      AS nw,
        |    coalesce(text, '') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
        |    CAST(greatest(
        |      length(regexp_replace(t, '[.!?]+', '.', 'g'))
        |        - length(regexp_replace(t, '[.!?]', '', 'g')),
        |      1) AS BIGINT) AS n_sentences,
        |    CAST(length(regexp_replace(t, '[aeiouAEIOU]+', 'V', 'g'))
        |      - length(regexp_replace(t, '[aeiouAEIOU]+', '', 'g'))
        |      AS BIGINT) AS n_syllables
        |  FROM d)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    CAST(206.835 AS DOUBLE)
        |      - CAST(1.015 AS DOUBLE)
        |        * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |      - CAST(84.6 AS DOUBLE)
        |        * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |  END AS flesch
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("q95_token_freq", tokenFrequency(_, _),
      """SELECT t.tok, count(*) AS n
        |FROM documents, UNNEST(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) AS t(tok)
        |GROUP BY 1 ORDER BY n DESC, tok""".stripMargin),
    Query("q30_token_stats", tokenStats(_, _),
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) AS n_tokens,
        |  len(list_distinct(string_split_regex(trim(text), '[ \t\n\v\f\r]+'))) AS n_distinct_tokens,
        |  length(text) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    // concatenation, NOT s-interpolation: the interpolator would cook
    // the \t\n\v\f\r regex escapes
    Query("q31_quality_score", qualityScore(_, _),
      ("""SELECT doc_id,
        |  len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) AS n_tokens,
        |  """.stripMargin + qualitySql + """ AS quality
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("q32_langid", langId(_, _),
      ("SELECT doc_id,\n" + LangPredCaseSql +
        "\nFROM documents ORDER BY doc_id")),
    // q32's prediction CTE joined to the truth label: row-normalized
    // confusion matrix + overall accuracy (exact integer counts, two
    // final double ratios)
    Query("q210_langid_eval", langidEval(_, _),
      ("""WITH pred AS (
        |  SELECT doc_id,
        |""".stripMargin + LangPredCaseSql + """
        |  FROM documents),
        |j AS (
        |  SELECT coalesce(d.lang, '??') AS lang, p.lang_pred
        |  FROM pred p JOIN documents d ON d.doc_id = p.doc_id),
        |cm AS (
        |  SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        |  FROM j GROUP BY 1, 2),
        |tr AS (
        |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_truth
        |  FROM cm GROUP BY 1),
        |acc AS (
        |  SELECT CAST(sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END)
        |      AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS accuracy
        |  FROM cm)
        |SELECT cm.lang, cm.lang_pred, cm.n, tr.n_truth,
        |  CAST(cm.n AS DOUBLE) / CAST(tr.n_truth AS DOUBLE) AS frac,
        |  acc.accuracy
        |FROM cm JOIN tr ON tr.lang = cm.lang CROSS JOIN acc
        |ORDER BY cm.lang, cm.lang_pred""".stripMargin)),
    Query("q33_fingerprint", fingerprint(_, _),
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+'))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q109_split_contamination", splitContamination(_, _),
      raw"""WITH words AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 1000 < 900 AS is_train,
        |    string_split_regex(trim(text), '[ \t\n\v\f\r]+') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, is_train,
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS gh
        |  FROM (SELECT doc_id, is_train, unnest(
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct([array_to_string(w[i+1:i+3], ' ')
        |                             for i in range(0, len(w) - 2)]) END) AS s
        |    FROM words)
        |), train AS (
        |  SELECT DISTINCT gh FROM g WHERE is_train
        |)
        |SELECT c.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN t.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(sum(CASE WHEN t.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    / count(*) AS contamination
        |FROM (SELECT * FROM g WHERE NOT is_train) c
        |LEFT JOIN train t USING (gh)
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin),
    // q109 with the sides swapped: train docs probed against the
    // distinct EVAL gram set, integer-threshold kept verdict
    Query("q141_decontaminate", decontaminate(_, _),
      raw"""WITH words AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 1000 < 900 AS is_train,
        |    string_split_regex(trim(text), '[ \t\n\v\f\r]+') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, is_train,
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS gh
        |  FROM (SELECT doc_id, is_train, unnest(
        |    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct([array_to_string(w[i+1:i+5], ' ')
        |                             for i in range(0, len(w) - 4)]) END) AS s
        |    FROM words)
        |), ev AS (
        |  SELECT DISTINCT gh FROM g WHERE NOT is_train
        |)
        |SELECT c.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(sum(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 20 <= count(*) AS kept
        |FROM (SELECT * FROM g WHERE is_train) c
        |LEFT JOIN ev e USING (gh)
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin),
    Query("q87_contamination", contamination(_, _),
      raw"""WITH words AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\v\f\r]+') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS gh
        |  FROM (SELECT doc_id, unnest(
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_distinct([array_to_string(w[i+1:i+3], ' ')
        |                             for i in range(0, len(w) - 2)]) END) AS s
        |    FROM words)
        |), bench AS (
        |  SELECT DISTINCT gh FROM g WHERE doc_id % 20 < 3
        |)
        |SELECT c.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(sum(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    / count(*) AS contamination
        |FROM (SELECT * FROM g WHERE doc_id % 20 >= 3) c
        |LEFT JOIN bench b USING (gh)
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin),
    Query("q88_pii_redact", piiRedact(_, _),
      raw"""WITH c AS (
        |  SELECT c_custkey,
        |    c_name || ' <user' || c_custkey || '@example.com>' ||
        |    CASE WHEN c_custkey % 2 = 0
        |      THEN ' ph +1-' || lpad((c_custkey % 900 + 100)::VARCHAR, 3, '0')
        |        || '-' || lpad((c_custkey % 9000 + 1000)::VARCHAR, 4, '0')
        |      ELSE '' END AS contact
        |  FROM customer)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(contact, '[a-z0-9.]+@[a-z0-9.-]+')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(contact, '\+1-[0-9]{3}-[0-9]{4}')) AS INTEGER)
        |    AS n_phones,
        |  regexp_replace(
        |    regexp_replace(contact, '[a-z0-9.]+@[a-z0-9.-]+', '[EMAIL]', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted
        |FROM c ORDER BY c_custkey""".stripMargin),
    Query("q89_repetition", repetition(_, _),
      raw"""WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\v\f\r]+') AS w,
        |    CASE WHEN len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) < 2
        |      THEN [array_to_string(string_split_regex(trim(text), '[ \t\n\v\f\r]+'), ' ')]
        |      ELSE [array_to_string(string_split_regex(trim(text), '[ \t\n\v\f\r]+')[i+1:i+2], ' ')
        |            for i in range(0, len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) - 1)]
        |    END AS g2
        |  FROM documents)
        |SELECT doc_id, len(w) AS n_tokens,
        |  1.0 - len(list_distinct(g2)) / len(g2) AS dup_2gram_ratio,
        |  len([i for i in range(1, len(w)) if w[i] = w[i+1]]) / len(g2)
        |    AS adj_repeat_ratio
        |FROM t ORDER BY doc_id""".stripMargin))
}
