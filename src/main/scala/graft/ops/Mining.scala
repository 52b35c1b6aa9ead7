package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}

/** Corpus mining and governance audits — four operator families a
  * training-data pipeline runs over the curated corpus once the
  * per-document gates (q149/q154/q157) have done their work:
  *
  *   - '''Pareto front''' (q212): the skyline of documents that are
  *     not dominated on (length, quality) — the classic "best
  *     trade-off set" OLAP operator (Börzsönyi et al., ICDE 2001),
  *     spelled as a two-level distributed prefix-max instead of the
  *     quadratic dominance join the textbook definition implies.
  *   - '''Bitmap-distinct rollup''' (q213): per-slice exact distinct
  *     counts via Spark's `bitmap_construct_agg`/`bitmap_or_agg`
  *     partial aggregation — the at-scale spelling of
  *     `count(DISTINCT …)` where the shuffle carries fixed-size
  *     bitmaps instead of the raw value stream.
  *   - '''k-anonymity audit''' (q214): quasi-identifier group sizes
  *     and the at-risk flag per record — the governance check a
  *     corpus with user-derived metadata must pass before export
  *     (Sweeney, IJUFKS 2002).
  *   - '''Association rules''' (q215): support/confidence/lift over
  *     within-document token co-occurrence with Apriori candidate
  *     pruning (Agrawal & Srikant, VLDB 1994) — the "what co-occurs
  *     with what" corpus diagnostic.
  *
  * Reference anchor: the reference's analytics surface is aggregate
  * reporting over curated tables (`dags/taxi_transform_dag.py:88-100`,
  * the summary rollup); these are the corpus-scale members of that
  * family.
  */
object Mining extends QueryModule {

  /** q214's anonymity threshold: groups smaller than K are at risk. */
  val K = 5

  /** q215's thresholds, spelled as exact integer cross-multiplies so
    * both engines compare identically: support ≥ 10% of docs
    * (`n_ab*10 ≥ N`), confidence ≥ 0.6 (`n_ab*5 ≥ 3*n_a`), lift > 1
    * (`n_ab*N > n_a*n_b`). Relative — not absolute — support is what
    * makes the same query meaningful at every SF. */
  val SupPctX10 = 10

  /** q212: Pareto front of documents on (n_chars ↑, w_sum ↑) — a doc
    * is ON the front iff no other doc is ≥ in both dimensions and
    * strictly greater in at least one (ties survive together). The
    * quality dimension is the q154 linear-classifier score, so the
    * front is "the longest documents that are also the
    * highest-scoring" — the set a curation team inspects first.
    *
    * Scale shape — the textbook spelling is a quadratic dominance
    * self-join; this one never compares documents pairwise. Dominance
    * against the strictly-longer region reduces to a PREFIX MAX of
    * per-length max-quality over descending length, computed in two
    * levels: per-length maxima roll up into 256-char buckets (tiny
    * unpartitioned window over the bucket histogram, the q159 rule),
    * and the within-bucket exclusive prefix max runs under
    * `partitionBy(bucket)` — so no window ever sees more than one
    * bucket's distinct lengths and the whole plan is
    * groupBy-partial-agg + two bounded windows + one key-equality
    * join back to the docs. Same-length dominance is the per-length
    * max itself. The oracle spells the quadratic NOT EXISTS
    * definition — the sweep must be invisible. */
  def paretoFront(s: SparkSession, dir: String): DataFrame = {
    val qual = graft.text.CorpusStats.linearQuality(s, dir)
      .select(col("doc_id"), col("w_sum"))
    val pts = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .join(qual, "doc_id") // inner: token-less docs carry no score
    val perX = pts.groupBy(col("n_chars"))
      .agg(max(col("w_sum")).as("mx"))
      .withColumn("b", expr("n_chars div 256"))
    val perB = perX.groupBy(col("b")).agg(max(col("mx")).as("mb"))
    // ≤ (max n_chars)/256 buckets: the one intentionally-unpartitioned
    // window runs over the bucket histogram, never over documents
    val wB = Window.orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cb = perB.withColumn("cb", max(col("mb")).over(wB))
      .select(col("b"), col("cb"))
    val wX = Window.partitionBy(col("b")).orderBy(col("n_chars").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // hi = max quality among STRICTLY longer docs (cross-bucket prefix
    // ∨ within-bucket exclusive prefix); Long.MinValue = "no longer
    // doc exists" (w_sum ≥ −1000·n_tokens keeps real scores far above)
    val cx = perX.join(cb, "b")
      .withColumn("wx", max(col("mx")).over(wX))
      .select(col("n_chars"), col("mx"),
        greatest(coalesce(col("cb"), lit(Long.MinValue)),
          coalesce(col("wx"), lit(Long.MinValue))).as("hi"))
    pts.join(cx, "n_chars")
      .select(col("doc_id"), col("n_chars"), col("w_sum"),
        (!(col("hi") >= col("w_sum") || col("mx") > col("w_sum")))
          .as("on_front"))
      .orderBy("doc_id")
  }

  /** q213: per-event-type exact distinct users via BITMAP partial
    * aggregation — `bitmap_construct_agg` builds a fixed 4 KB bitmap
    * per (type, 32768-value bucket) map-side, `bitmap_count` +
    * `sum` roll the buckets up, and `bitmap_or_agg` merges the same
    * bitmaps ACROSS types for the global count — one derivation, two
    * consumers, no raw-id shuffle anywhere. At 100 TB this is the
    * distinct-count spelling that survives: the shuffle volume is
    * #groups × #occupied-buckets × 4 KB, independent of row count
    * (`count(DISTINCT)` expands every row into the shuffle). The
    * oracle spells plain `count(DISTINCT …)` — the bitmaps must be
    * exact, not approximate. */
  def bitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .where(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"))
    val perBucket = ev
      .groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("buck"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"),
        count(lit(1)).as("n_ev"))
    val perType = perBucket.groupBy(col("event_type"))
      .agg(sum(col("n_ev")).as("n_events"),
        sum(expr("bitmap_count(bm)")).as("n_users"))
    val global = perBucket.groupBy(col("buck"))
      .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("c"))
      .agg(sum(col("c")).as("n_users_all"))
    perType.crossJoin(broadcast(global)) // 1-row constant relation
      .select(col("event_type"), col("n_events"), col("n_users"),
        col("n_users_all"))
      .orderBy("event_type")
  }

  /** q214: k-anonymity audit over the quasi-identifier
    * (source, lang, 256-char length bin) — every document annotated
    * with its QI-group size and the at-risk flag (group < K). A
    * record in a small QI group is re-identifiable by those
    * attributes alone; the export step suppresses or generalizes
    * at-risk rows.
    *
    * Scale shape: ONE window partitioned by the QI columns — a single
    * key shuffle, no join, no second scan; NULL lang forms its own
    * group in both engines' PARTITION BY. */
  def kAnonymity(s: SparkSession, dir: String, k: Int = K): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        expr("n_chars div 256").as("len_bin"))
    val w = Window.partitionBy(col("source"), col("lang"), col("len_bin"))
    d.withColumn("group_size", count(lit(1)).over(w))
      .withColumn("at_risk", col("group_size") < k)
      .orderBy("doc_id")
  }

  /** q287's diversity floor. */
  val LDiv = 3

  /** q291's trim fraction denominator: cut ⌊n/[[TrimDen]]⌋ rows from
    * EACH tail. */
  val TrimDen = 10

  /** q291: 10%-trimmed mean per group — the robust location estimate
    * next to q277's raw moments (a single corrupted-feed spike moves
    * a mean; the trimmed mean ignores both tails). EXACT via the
    * value-histogram: l_quantity's domain is bounded, so the group
    * rolls up to (group, value, cnt), a cumulative window ranks the
    * histogram, and each value's surviving multiplicity is pure
    * integer interval arithmetic — contribution of value v to the
    * low cut = min(cum, k) − min(cum − cnt, k), symmetric from the
    * top; no per-row sort, no percentile interpolation. ONE final
    * IEEE division (the q277 exit rule).
    *
    * Scale shape: one (group, value) partial-agg rollup — the only
    * corpus-sized shuffle; the cumulative window runs over ≤|domain|
    * rows per group. A true-real-valued column would first bucket to
    * a bounded grid (the q266 bit-length discipline) or accept a
    * per-group sort. */
  def trimmedMean(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        floor(col("l_quantity")).cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy(col("g"))
    val cut = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wg))
      .withColumn("k", expr(s"n div $TrimDen"))
      .select(col("g"), col("v"), col("cnt"), col("n"), col("k"),
        (least(col("cum"), col("k"))
          - least(col("cum") - col("cnt"), col("k"))).as("lo_cnt"),
        (least(col("n") - (col("cum") - col("cnt")), col("k"))
          - least(col("n") - col("cum"), col("k"))).as("hi_cnt"))
    cut.groupBy(col("g"))
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        sum(col("v") * col("cnt")).as("sum_all"),
        sum(col("v") * col("lo_cnt")).as("sum_lo"),
        sum(col("v") * col("hi_cnt")).as("sum_hi"))
      .select(col("g").as("l_returnflag"), col("n"), col("k"),
        (col("n") - lit(2L) * col("k")).as("trimmed_n"),
        (col("sum_all") - col("sum_lo") - col("sum_hi"))
          .as("trimmed_sum"),
        ((col("sum_all") - col("sum_lo") - col("sum_hi")).cast("double")
          / (col("n") - lit(2L) * col("k")).cast("double"))
          .as("trimmed_mean"))
      .orderBy("l_returnflag")
  }

  /** q287: l-diversity audit (Machanavajjhala et al. 2007) — q214's
    * k-anonymity sibling one step stronger: a QI group can be large
    * (k-anonymous) yet still leak if everyone in it shares the same
    * SENSITIVE value, so each (source, len_bin) group is scored by
    * how many distinct sensitive values (lang) it contains and
    * flagged when below [[LDiv]]. Group-level report (not per-row
    * like q214): the shape an export-review dashboard reads.
    *
    * Scale shape: one QI-keyed rollup with an exact COUNT(DISTINCT)
    * per group — a single key shuffle (distinct folds into the
    * partial agg); no window, no join. */
  def lDiversity(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("source"), expr("n_chars div 256").as("len_bin"),
        col("lang"))
      .groupBy(col("source"), col("len_bin"))
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col("lang")).as("n_sensitive"))
      .withColumn("diverse", col("n_sensitive") >= LDiv)
      .orderBy("source", "len_bin")
  }

  /** q294: Kolmogorov–Smirnov drift screen — for each source, the
    * exact KS statistic between ITS document-length distribution and
    * the rest of the corpus (the one-vs-rest drift matrix a feed
    * monitor reads; the q206 TV-distance sibling for a CONTINUOUS
    * variable, no binning). Exact throughout: D = max_v |F_s(v) −
    * F_r(v)| is evaluated as the BIGINT cross-multiplied numerator
    * max_v |cum_s·n_r − cum_r·n_s| (no per-step divisions to
    * accumulate error), and the statistic itself is the ONE final
    * division by n_s·n_r.
    *
    * Scale shape: one (source, value) rollup, a dense
    * sources×values grid (|sources| · |distinct lengths| — tiny
    * relative to the corpus), two cumulative windows, one max
    * rollup. A 100 TB run with millions of distinct values would
    * first quantize to a bounded grid (the q266 discipline) —
    * stated here because the grid is the only data-dependent
    * relation. */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("source"), col("n_chars").as("v"))
    val csv = d.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
    val totals = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val big = d.agg(count(lit(1)).as("n")) // 1 row
    val values = d.select(col("v")).distinct()
    val grid = totals.select(col("source")).crossJoin(values)
      .join(csv, Seq("source", "v"), "left")
      .select(col("source"), col("v"),
        coalesce(col("c"), lit(0L)).as("c"))
    val cumW = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gcumW = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // global cumulative over the value grid (|values| rows — the
    // single-partition window is over the TINY grid, not the corpus).
    // Bound argument: v = n_chars, so |values| ≤ max document LENGTH
    // (a value-domain bound, corpus-cardinality-free — 10⁶ distinct
    // lengths ≈ 16 MB of (v, cg) rows even at 100 TB). A KS grid over
    // a column whose domain grew with the corpus (raw ids/timestamps)
    // would need pre-binning first — the q181/q159 histogram rule.
    val gcum = values
      .join(d.groupBy(col("v")).agg(count(lit(1)).as("cg")),
        Seq("v"), "left")
      .select(col("v"), coalesce(col("cg"), lit(0L)).as("cg"))
      .withColumn("cum_all", sum(col("cg")).over(gcumW))
      .select(col("v"), col("cum_all"))
    grid
      .withColumn("cum_s", sum(col("c")).over(cumW))
      .join(gcum, "v")
      .join(totals, "source")
      .crossJoin(broadcast(big))
      .select(col("source"), col("n_s"), (col("n") - col("n_s")).as("n_r"),
        abs(col("cum_s") * (col("n") - col("n_s"))
          - (col("cum_all") - col("cum_s")) * col("n_s")).as("num"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_s"), max(col("n_r")).as("n_r"),
        max(col("num")).as("d_num"))
      .select(col("source"), col("n_s"), col("n_r"), col("d_num"),
        (col("d_num").cast("double")
          / (col("n_s") * col("n_r")).cast("double")).as("ks_d"))
      .orderBy("source")
  }

  /** q215: association rules over within-document token
    * co-occurrence — directional rules `antecedent → consequent` with
    * exact support / confidence / lift, thresholded by integer
    * cross-multiplies ([[SupPctX10]]) so both engines keep identical
    * rows. Items are the DISTINCT tokens of a document (set
    * semantics, the market-basket model).
    *
    * Scale shape — Apriori pruning, losslessly: any rule passing
    * `n_ab*10 ≥ N` has both item supports ≥ N/10, so the pair
    * self-join runs only over tokens that survive the frequent-item
    * semi-join — per-document pair fan-out is bounded by the
    * FREQUENT vocabulary per doc, not the raw token count. The pair
    * derivation shuffles by doc_id (key-equality); the item-count
    * joins are vocabulary-keyed and hint-free (vocabulary grows with
    * the corpus — AQE decides, the q36 discipline); only the 1-row
    * doc-count relation rides a broadcast. The oracle spells the
    * UNPRUNED definition — the pruning must be invisible. */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    // the item relation feeds FOUR consumers (item counts + both
    // sides of the pair self-join + the frequent semi-join input) —
    // the ≥3-consumer rule: materialize once or the whole
    // tokenize→explode→distinct pipeline replays per consumer
    // (measured: 17 corpus scans in the unmemoized plan)
    val it = graft.util.Tokens.assocItems(s, dir)
    val nRel = Tables.load(s, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val ic = it.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // frequent items feed three joins — same rule, vocab-sized zone
    val fr = graft.util.Scratch.memo(s, "assoc-freq",
      s"assoc-freq:$dir")(
      ic.crossJoin(broadcast(nRel))
        .where(col("c") * SupPctX10 >= col("n_docs"))
        .select(col("tok"), col("c")))
    val itF = it.join(fr.select(col("tok")), "tok")
    val pairs = itF.as("a")
      .join(itF.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("ta"), col("b.tok").as("tb"))
      .agg(count(lit(1)).as("cab"))
    val bi = pairs.select(col("ta").as("antecedent"),
        col("tb").as("consequent"), col("cab"))
      .unionByName(pairs.select(col("tb").as("antecedent"),
        col("ta").as("consequent"), col("cab")))
    bi.join(fr.select(col("tok").as("antecedent"), col("c").as("n_a")),
        "antecedent")
      .join(fr.select(col("tok").as("consequent"), col("c").as("n_b")),
        "consequent")
      .crossJoin(broadcast(nRel))
      .where(col("cab") * SupPctX10 >= col("n_docs") &&
        col("cab") * 5 >= col("n_a") * 3 &&
        col("cab") * col("n_docs") > col("n_a") * col("n_b"))
      .select(col("antecedent"), col("consequent"),
        col("cab").as("n_ab"), col("n_a"), col("n_b"), col("n_docs"),
        (col("cab").cast("double") / col("n_a").cast("double"))
          .as("conf"),
        ((col("cab") * col("n_docs")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy("antecedent", "consequent")
  }

  /** q219: right-to-be-forgotten erasure over a merge-on-read zone —
    * the read path of [[graft.sinks.MergeOnRead]] under the gate. A
    * slim documents table becomes the zone base; an erasure batch
    * tombstones every doc_id ≡ 0 (mod 97) (O(|keys|), no base
    * rewrite); a later upsert restores the even half of the erased
    * keys with an amended source — proving tombstones hide base rows
    * AND that later epochs win over tombstones. The reconciled view
    * must equal the oracle's plain set algebra over `documents`.
    *
    * The zone is built once per application ([[erasureZone]]); the
    * memo map publishes its path only after the build returns, so the
    * read path never sees a half-built chain. Scale shape: the reconcile
    * is MergeOnRead's one key-partitioned window; erase and restore
    * cost O(batch) writes regardless of corpus size. */
  def erasureScrub(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.MergeOnRead
    MergeOnRead.read(s, erasureZone(s, dir), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** The erase-then-restore zone (q219 and q226 both consume it). A
    * `Scratch.memoZone` keyed by kind and dir: built once per
    * application, app-scoped, deleted by `Scratch.clear`, and its build
    * counted in `Scratch.buildSeconds`. */
  private[ops] def erasureZone(s: SparkSession, dir: String): String = {
    import graft.sinks.MergeOnRead
    graft.util.Scratch.memoZone(s, "mor_erasure", s"mor_erasure:$dir") { p =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      MergeOnRead.init(s, p, docs)
      MergeOnRead.delete(s, p,
        docs.where(col("doc_id") % 97 === 0).select(col("doc_id")),
        Seq("doc_id"))
      MergeOnRead.merge(s, p,
        docs.where(col("doc_id") % 97 === 0 && col("doc_id") % 2 === 0)
          .withColumn("source", lit("restored")),
        Seq("doc_id"))
    }
  }

  /** q225's digest fan-out (and the probe payload): 64 buckets of
    * XOR-folded row hashes. */
  val DigestBuckets = 64

  /** q225: anti-entropy zone digest — the cross-replica consistency
    * check a 100 TB deployment runs instead of row-by-row compare:
    * per key-bucket, XOR-fold a deterministic row hash (XOR is
    * order-independent and cannot overflow — a SUM of 60-bit hashes
    * would wrap differently per engine). Two copies agree iff all
    * [[DigestBuckets]] (digest, n_rows) pairs agree — comparing a
    * corpus costs one scan per side plus a 64-row exchange.
    *
    * The query digests `documents` AND a freshly parquet-round-
    * tripped physical copy, emitting the per-bucket match witness
    * (pinned TRUE by the gate): digest determinism and round-trip
    * fidelity in one relation. The oracle recomputes the digest
    * arithmetic from the table — the copy column equals it by
    * definition there, which is exactly the claim. */
  def zoneDigest(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Md5Prefix
    def digestOf(df: DataFrame): DataFrame =
      df.select(pmod(col("doc_id"), lit(DigestBuckets)).as("bucket"),
          Md5Prefix.h(concat_ws("|", col("doc_id").cast("string"),
            col("source"), col("n_chars").cast("string"))).as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("digest"))
    val src = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    // built once per application (Scratch.memo, keyed by kind and dir)
    val copy = graft.util.Scratch.memo(s, "digest_copy", s"digest_copy:$dir")(src)
    digestOf(src).as("a")
      .join(digestOf(copy).as("b"), Seq("bucket"))
      .select(col("bucket"), col("a.n_rows").as("n_rows"),
        col("a.digest").as("digest"),
        col("b.n_rows").as("copy_n_rows"),
        col("b.digest").as("copy_digest"),
        (col("a.n_rows") === col("b.n_rows") &&
          col("a.digest") === col("b.digest")).as("match_ok"))
      .orderBy("bucket")
  }

  /** q226: INCREMENTALLY-maintained zone digest — q225's anti-entropy
    * state kept fresh without ever re-digesting the table. XOR is its
    * own inverse, so each [[graft.sinks.MergeOnRead.diff]] epoch folds
    * in O(changed keys): a delete XORs the before-row hash back out,
    * an insert XORs the after-row hash in, an update XORs both. The
    * query digests ONLY the epoch-0 base directly, then derives the
    * current zone's digest purely from diff folds across the erasure
    * zone's epochs — while the oracle re-digests the reconciled view
    * from scratch (the q219 oracle embedded verbatim). Fold ≡
    * recompute is the gate.
    *
    * Buckets XOR-cancelled to emptiness are dropped (`n_rows > 0`) to
    * mirror the recompute's absent groups. At 100 TB: digest upkeep
    * costs O(batch) per ingest instead of an O(corpus) rescan. */
  def digestMaintained(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Md5Prefix
    import graft.sinks.MergeOnRead
    val root = erasureZone(s, dir)
    def h(docId: Column, source: Column, nChars: Column): Column =
      Md5Prefix.h(concat_ws("|", docId.cast("string"), source,
        nChars.cast("string")))
    val state0 = MergeOnRead.read(s, root, Seq("doc_id"), asOf = 0L)
      .select(pmod(col("doc_id"), lit(DigestBuckets)).as("bucket"),
        lit(1L).as("dn"),
        h(col("doc_id"), col("source"), col("n_chars")).as("dx"))
    val eps = MergeOnRead.epochs(s, root)
    val folds = (0L +: eps).zip(eps).map { case (from, to) =>
      MergeOnRead.diff(s, root, Seq("doc_id"), from, to)
        .select(pmod(col("doc_id"), lit(DigestBuckets)).as("bucket"),
          when(col("op") === "insert", 1L)
            .when(col("op") === "delete", -1L).otherwise(0L).as("dn"),
          when(col("op") === "insert",
            h(col("doc_id"), col("after.source"), col("after.n_chars")))
            .when(col("op") === "delete",
              h(col("doc_id"), col("before.source"),
                col("before.n_chars")))
            .otherwise(
              h(col("doc_id"), col("before.source"), col("before.n_chars"))
                .bitwiseXOR(h(col("doc_id"), col("after.source"),
                  col("after.n_chars")))).as("dx"))
    }
    (state0 +: folds).reduce(_ unionByName _)
      .groupBy(col("bucket"))
      .agg(sum(col("dn")).as("n_rows"), expr("bit_xor(dx)").as("digest"))
      .where(col("n_rows") > 0)
      .orderBy("bucket")
  }

  /** q239: chi-square contingency cells for source × lang — the
    * independence diagnostic behind "is language distribution uniform
    * across crawl sources" (a skewed cell = a crawler or extraction
    * bias to investigate). Emits each observed cell with its
    * observed/expected counts and chi-square contribution; totals
    * ride windows over the ≤|sources|·|langs| contingency relation
    * (the q159 tiny-window rule), and the only doubles are two fixed
    * expression trees over exact integers (`o·n − r·c` stays < 2⁵³,
    * so the double carries it exactly).
    *
    * Scale shape: one corpus rollup to the contingency table;
    * everything after runs on the tiny relation. */
  def chiSquareCells(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ct = Tables.load(s, dir, "documents")
      .select(col("source"), coalesce(col("lang"), lit("??")).as("lang"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("o"))
    val r = sum(col("o")).over(Window.partitionBy(col("source")))
    val c = sum(col("o")).over(Window.partitionBy(col("lang")))
    val n = sum(col("o")).over(Window.partitionBy())
    val diff = (col("o") * col("n") - col("r") * col("c")).cast("double")
    ct.withColumn("r", r).withColumn("c", c).withColumn("n", n)
      .select(col("source"), col("lang"), col("o"), col("r"), col("c"),
        col("n"),
        ((col("r") * col("c")).cast("double") / col("n").cast("double"))
          .as("expected"),
        ((diff * diff) /
          ((col("r") * col("c")).cast("double") * col("n").cast("double")))
          .as("chi2_contrib"))
      .orderBy("source", "lang")
  }

  /** Benford expectations log10(1+1/d), d = 1..9, as LITERALS — the
    * same decimal text renders the same double in both engines, which
    * sidesteps any log10 ULP disagreement. */
  val BenfordExpected: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
    3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
    5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
    9 -> 0.04575749056067514)

  /** q240: Benford first-digit audit of the event values — the
    * classic fabricated-numbers screen: naturally-occurring
    * magnitudes follow log10(1+1/d); a synthetic or truncated feed
    * does not (this generator's uniform-ish values won't either —
    * the deviation columns are the point, not a pass/fail). Values
    * enter as exact integer cents via `floor(value·100)` (floor,
    * not cast: DuckDB rounds double→BIGINT casts while Spark
    * truncates); the first digit is string surgery on the integer.
    * One corpus rollup to ≤9 rows. */
  def benfordDigits(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 100).cast("long")
    val obs = Tables.load(s, dir, "events")
      .where(col("value").isNotNull && cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val exp = s.createDataFrame(BenfordExpected)
      .toDF("digit", "expected_prop")
    obs.join(exp, Seq("digit"))
      .crossJoin(broadcast(obs.agg(sum(col("n")).as("n_total"))))
      .select(col("digit"), col("n"), col("n_total"),
        (col("n").cast("double") / col("n_total").cast("double"))
          .as("prop"),
        col("expected_prop"))
      .orderBy("digit")
  }

  /** q277: higher-moment distribution statistics (variance, skewness,
    * excess-free kurtosis) per group from EXACT integer power sums —
    * the drift/shape screen a feature store runs next to means: one
    * partial-agg scan accumulates n, Σv, Σv², Σv³, Σv⁴ as BIGINTs
    * (l_quantity is a whole number ≤ 50, so Σv⁴ stays under 2⁶³ to
    * ~10¹² rows per group; past that, widen to DECIMAL(38)
    * accumulators and exit as doubles, the q241 rule), and every
    * float is derived from those integers by the SAME IEEE
    * expression tree in both engines — +,−,×,÷,sqrt are all
    * correctly rounded, so the doubles gate bit-for-bit. `floor`
    * (not a cast) integerizes: DuckDB rounds double→BIGINT casts
    * while Spark truncates (the q240 rule).
    *
    * Scale shape: one map-side partial aggregate to |groups| rows;
    * nothing else. The moment identities (m₂ = E[v²]−μ², Pearson
    * m₃/m₂^1.5, m₄/m₂²) are evaluated on the tiny rollup. */
  def momentStats(s: SparkSession, dir: String): DataFrame = {
    val v = floor(col("l_quantity")).cast("long")
    momentsOf(Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag"), v.as("v")), "l_returnflag")
  }

  /** The moment rollup on an arbitrary (grp, v) relation — exposed
    * for MiningSpec's hand-computed symmetric-distribution contract. */
  private[graft] def momentsOf(df: DataFrame, grp: String): DataFrame = {
    val n = col("n").cast("double")
    val mean = col("mean")
    df
      .groupBy(col(grp))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"),
        sum(col("v") * col("v") * col("v")).as("s3"),
        sum(col("v") * col("v") * col("v") * col("v")).as("s4"))
      .withColumn("mean", col("s1").cast("double") / n)
      .withColumn("m2", col("s2").cast("double") / n - mean * mean)
      .withColumn("m3", col("s3").cast("double") / n
        - lit(3.0) * mean * (col("s2").cast("double") / n)
        + lit(2.0) * mean * mean * mean)
      .withColumn("m4", col("s4").cast("double") / n
        - lit(4.0) * mean * (col("s3").cast("double") / n)
        + lit(6.0) * mean * mean * (col("s2").cast("double") / n)
        - lit(3.0) * mean * mean * mean * mean)
      .select(col(grp), col("n"), col("s1"), col("s2"),
        col("s3"), col("s4"), mean, col("m2").as("variance"),
        (col("m3") / (col("m2") * sqrt(col("m2")))).as("skewness"),
        (col("m4") / (col("m2") * col("m2"))).as("kurtosis"))
      .orderBy(grp)
  }

  /** q243: EXACT Gini coefficient of per-document token counts — the
    * inequality measure behind "is the token mass concentrated in a
    * few giant documents" (drives packing and dedup priorities). The
    * standard spelling needs a GLOBAL rank (single-partition sort);
    * this one never ranks a document: lengths are bounded, so the
    * rank-weighted sum folds over the VALUE HISTOGRAM — for value v
    * with count c at cumulative offset o, Σ ranks·v =
    * v·(c·o + c(c+1)/2), all exact integers (the q159 histogram
    * rule; c(c+1) is even so the halving is exact). One doc rollup →
    * a bounded histogram → a tiny cumulative window → one final
    * double expression. Terms stay < 2⁶³ to ~10¹² docs at 10³
    * tokens each; past that, widen to per-shard decimals (the q164
    * caveat). */
  def giniTokens(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = graft.text.CorpusStats.linearQuality(s, dir)
      .select(col("n_tokens").as("v"))
    val h = perDoc.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val a = h
      .withColumn("o", sum(col("c")).over(w) - col("c"))
      .agg(sum(col("c")).as("n"),
        sum(col("v") * col("c")).as("s"),
        sum(col("v") * (col("c") * col("o") +
          expr("(c * (c + 1)) div 2"))).as("si"))
    a.select(col("n"), col("s"), col("si"),
      ((lit(2L) * col("si")).cast("double") /
        (col("n") * col("s")).cast("double")
        - (col("n") + lit(1L)).cast("double") / col("n").cast("double"))
        .as("gini"))
  }

  /** q247: split-uniformity audit — the q239 chi-square machinery
    * pointed at the q102 hash split: cells of (split × source) with
    * expected counts and contributions. A content-independent split
    * must be independent of source; a hot cell here means the split
    * hash is leaking corpus structure into train/val/test — the audit
    * every leakage-sensitive pipeline runs before trusting its
    * holdout. Same tiny-relation shape as q239. */
  def splitUniformity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ct = Sampling.hashSplit(s, dir)
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("o"))
    val diff = (col("o") * col("n") - col("r") * col("c")).cast("double")
    ct.withColumn("r", sum(col("o")).over(Window.partitionBy(col("split"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("source"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      .select(col("split"), col("source"), col("o"), col("r"), col("c"),
        col("n"),
        ((col("r") * col("c")).cast("double") / col("n").cast("double"))
          .as("expected"),
        ((diff * diff) /
          ((col("r") * col("c")).cast("double") * col("n").cast("double")))
          .as("chi2_contrib"))
      .orderBy("split", "source")
  }

  /** q248: the corpus health dashboard — six scalar vitals in one
    * (metric, value) relation: corpus size, mean document length,
    * exact-duplicate rate, English share, q154 keep rate, and the
    * q243 token Gini. This is the single pane a corpus team watches
    * per ingest epoch; every number is an integer-exact aggregate
    * with at most one final division, and the Gini rides its own
    * gated derivation so the dashboard cannot drift from the
    * detailed views. Scale shape: a handful of independent one-scan
    * rollups unioned as 1-row relations. */
  def corpusHealth(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val metrics = Seq(
      docs.agg(count(lit(1)).cast("double").as("value"))
        .select(lit("n_docs").as("metric"), col("value")),
      graft.text.CorpusStats.linearQuality(s, dir)
        .agg((sum(col("n_tokens")).cast("double") /
          count(lit(1)).cast("double")).as("value"))
        .select(lit("mean_tokens").as("metric"), col("value")),
      graft.text.CorpusStats.linearQuality(s, dir)
        .agg((sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("value"))
        .select(lit("keep_rate_quality").as("metric"), col("value")),
      docs.agg((lit(1.0) -
        countDistinct(md5(col("text"))).cast("double") /
          count(lit(1)).cast("double")).as("value"))
        .select(lit("exact_dup_rate").as("metric"), col("value")),
      docs.agg((sum(when(col("lang") === "en", 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("value"))
        .select(lit("pct_en").as("metric"), col("value")),
      giniTokens(s, dir)
        .select(lit("gini_tokens").as("metric"),
          col("gini").as("value")))
    metrics.reduce(_ unionByName _).orderBy("metric")
  }

  /** q259: rolling 7-day active users (WAU) — EXACT, at scale: the
    * naive spelling explodes every user into every window it touches
    * (7× the corpus through a distinct). Here each (day, 32768-user
    * bucket) builds one bitmap (q213's partial agg), the 7-day union
    * is `bitmap_or_agg` over a window PARTITIONED BY BUCKET — so the
    * rolling state is per-bucket-bounded, never corpus-wide — and
    * the day's WAU is the sum of per-bucket popcounts. The oracle
    * spells the quadratic day×events containment join the bitmaps
    * must reproduce. Dense day axis so windows mean calendar days,
    * not observed-day ranks. */
  def rollingWau(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(s, dir, "events")
      .where(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val days = ev.select(col("d")).distinct()
    val perBucket = ev
      .groupBy(col("d"), expr("bitmap_bucket_number(user_id)").as("buck"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
        .as("bm"))
      // dense (day × occupied bucket) grid: a bucket silent on a day
      // must still carry its window history forward
      .join(days.crossJoin(
          ev.select(expr("bitmap_bucket_number(user_id)").as("buck"))
            .distinct()),
        Seq("d", "buck"), "right")
    val w = Window.partitionBy(col("buck"))
      .orderBy(datediff(col("d"), lit("1970-01-01")))
      .rangeBetween(-6, 0)
    perBucket
      .withColumn("wbm", expr("bitmap_or_agg(bm)").over(w))
      .select(col("d"), expr("bitmap_count(wbm)").as("c"))
      .groupBy(col("d")).agg(sum(col("c")).as("wau"))
      // the q86 day-as-string output rule: engines disagree on the
      // DATE wire type, not the value
      .select(col("d").cast("string").as("day"), col("wau"))
      .orderBy("day")
  }

  /** q260: engagement stickiness — DAU/WAU per day, the canonical
    * "how often do weekly users show up daily" product metric, from
    * the SAME per-bucket bitmap grid as q259: the day frame is the
    * bitmap itself, the week frame the windowed OR, one ratio at the
    * end. */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(s, dir, "events")
      .where(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val days = ev.select(col("d")).distinct()
    val perBucket = ev
      .groupBy(col("d"), expr("bitmap_bucket_number(user_id)").as("buck"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
        .as("bm"))
      .join(days.crossJoin(
          ev.select(expr("bitmap_bucket_number(user_id)").as("buck"))
            .distinct()),
        Seq("d", "buck"), "right")
    val w = Window.partitionBy(col("buck"))
      .orderBy(datediff(col("d"), lit("1970-01-01")))
      .rangeBetween(-6, 0)
    perBucket
      .withColumn("wbm", expr("bitmap_or_agg(bm)").over(w))
      .select(col("d"),
        coalesce(expr("bitmap_count(bm)"), lit(0L)).as("dc"),
        expr("bitmap_count(wbm)").as("wc"))
      .groupBy(col("d"))
      .agg(sum(col("dc")).as("dau"), sum(col("wc")).as("wau"))
      .select(col("d").cast("string").as("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy("day")
  }

  /** The Benford table as a VALUES relation, generated from
    * [[BenfordExpected]] itself — the literals cannot drift. */
  private def benfordValues: String =
    BenfordExpected.map { case (d, p) =>
      s"($d, CAST($p AS DOUBLE))"
    }.mkString(", ")

  lazy val records: Seq[Query] = Seq(
    // identical IEEE expression trees over the exact power sums —
    // lateral alias reuse (mean, m2…) is supported by DuckDB and
    // mirrors the withColumn chain symbolically
    Query("q277_moment_stats", momentStats(_, _),
      """WITH s AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS s1,
        |    CAST(sum(v * v) AS BIGINT) AS s2,
        |    CAST(sum(v * v * v) AS BIGINT) AS s3,
        |    CAST(sum(v * v * v * v) AS BIGINT) AS s4
        |  FROM (SELECT l_returnflag,
        |          CAST(floor(l_quantity) AS BIGINT) AS v
        |        FROM lineitem)
        |  GROUP BY 1),
        |m AS (
        |  SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean
        |  FROM s),
        |mm AS (
        |  SELECT *,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mean * mean
        |      AS m2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 2.0 * mean * mean * mean AS m3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 4.0 * mean * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 6.0 * mean * mean
        |        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      - 3.0 * mean * mean * mean * mean AS m4
        |  FROM m)
        |SELECT l_returnflag, n, s1, s2, s3, s4, mean,
        |  m2 AS variance,
        |  m3 / (m2 * sqrt(m2)) AS skewness,
        |  m4 / (m2 * m2) AS kurtosis
        |FROM mm ORDER BY l_returnflag""".stripMargin),
    Query("q260_stickiness", stickiness(_, _),
      """WITH ev AS (
        |  SELECT ts::DATE AS d, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT d FROM ev),
        |dau AS (
        |  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ev GROUP BY 1),
        |wau AS (
        |  SELECT days.d, CAST(count(DISTINCT ev.user_id) AS BIGINT)
        |    AS wau
        |  FROM days JOIN ev ON ev.d BETWEEN days.d - 6 AND days.d
        |  GROUP BY 1)
        |SELECT CAST(dau.d AS VARCHAR) AS day, dau.dau, wau.wau,
        |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE)
        |    AS stickiness
        |FROM dau JOIN wau ON wau.d = dau.d
        |ORDER BY day""".stripMargin),
    // the quadratic containment join the bitmap windows must match
    Query("q259_rolling_wau", rollingWau(_, _),
      """WITH ev AS (
        |  SELECT ts::DATE AS d, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT d FROM ev)
        |SELECT CAST(days.d AS VARCHAR) AS day,
        |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS wau
        |FROM days JOIN ev ON ev.d BETWEEN days.d - 6 AND days.d
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // each vital as a scalar subquery; the Gini embeds the q243
    // oracle verbatim, the quality parts the q154 tokenization
    Query("q248_corpus_health", corpusHealth(_, _),
      raw"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2001 - 1000 AS wt
        |  FROM tok),
        |q AS MATERIALIZED (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    sum(wt) >= 0 AS keep
        |  FROM w GROUP BY 1),
        |gh AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT n_tokens AS v FROM q) GROUP BY 1),
        |gw AS (
        |  SELECT v, c,
        |    CAST(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
        |      AS BIGINT) AS o
        |  FROM gh),
        |ga AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(v * c) AS BIGINT) AS s,
        |    CAST(sum(v * (c * o + (c * (c + 1)) // 2)) AS BIGINT) AS si
        |  FROM gw)
        |SELECT * FROM (
        |  SELECT 'exact_dup_rate' AS metric,
        |    1.0 - CAST((SELECT count(DISTINCT md5(text)) FROM documents)
        |      AS DOUBLE)
        |      / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS value
        |  UNION ALL
        |  SELECT 'gini_tokens',
        |    CAST(2 * si AS DOUBLE) / CAST(n * s AS DOUBLE)
        |      - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)
        |  FROM ga
        |  UNION ALL
        |  SELECT 'keep_rate_quality',
        |    CAST((SELECT sum(CASE WHEN keep THEN 1 ELSE 0 END) FROM q)
        |      AS DOUBLE)
        |      / CAST((SELECT count(*) FROM q) AS DOUBLE)
        |  UNION ALL
        |  SELECT 'mean_tokens',
        |    CAST((SELECT sum(n_tokens) FROM q) AS DOUBLE)
        |      / CAST((SELECT count(*) FROM q) AS DOUBLE)
        |  UNION ALL
        |  SELECT 'n_docs',
        |    CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |  UNION ALL
        |  SELECT 'pct_en',
        |    CAST((SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      FROM documents) AS DOUBLE)
        |      / CAST((SELECT count(*) FROM documents) AS DOUBLE)) t
        |ORDER BY metric""".stripMargin),
    // the q102 split spelling embedded verbatim + the q239 cell math
    Query("q247_split_uniformity", splitUniformity(_, _),
      s"""WITH sp AS MATERIALIZED (
         |  SELECT * FROM (
         |${Sampling.HashSplitSql}
         |  ) t),
         |ct AS (
         |  SELECT split, source, CAST(count(*) AS BIGINT) AS o
         |  FROM sp GROUP BY 1, 2),
         |w AS (
         |  SELECT split, source, o,
         |    CAST(sum(o) OVER (PARTITION BY split) AS BIGINT) AS r,
         |    CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS c,
         |    CAST(sum(o) OVER () AS BIGINT) AS n
         |  FROM ct)
         |SELECT split, source, o, r, c, n,
         |  CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
         |  (CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE))
         |    / (CAST(r * c AS DOUBLE) * CAST(n AS DOUBLE))
         |    AS chi2_contrib
         |FROM w ORDER BY split, source""".stripMargin),
    // same histogram fold; the doc token counts are the q154
    // tokenization spelled verbatim
    Query("q243_gini_tokens", giniTokens(_, _),
      raw"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) AS tok
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS v
        |  FROM tok GROUP BY 1),
        |h AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1),
        |w AS (
        |  SELECT v, c,
        |    CAST(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
        |      AS BIGINT) AS o
        |  FROM h),
        |a AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(v * c) AS BIGINT) AS s,
        |    CAST(sum(v * (c * o + (c * (c + 1)) // 2)) AS BIGINT) AS si
        |  FROM w)
        |SELECT n, s, si,
        |  CAST(2 * si AS DOUBLE) / CAST(n * s AS DOUBLE)
        |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
        |FROM a""".stripMargin),
    Query("q240_benford", benfordDigits(_, _),
      s"""WITH obs AS (
         |  SELECT CAST(substr(CAST(CAST(floor(value * 100) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS INT) AS digit,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events
         |  WHERE value IS NOT NULL
         |    AND CAST(floor(value * 100) AS BIGINT) > 0
         |  GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM obs),
         |e(digit, expected_prop) AS (VALUES $benfordValues)
         |SELECT obs.digit, obs.n, t.n_total,
         |  CAST(obs.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS prop,
         |  e.expected_prop
         |FROM obs JOIN e ON e.digit = obs.digit CROSS JOIN t
         |ORDER BY obs.digit""".stripMargin),
    Query("q239_chisq_cells", chiSquareCells(_, _),
      """WITH ct AS (
        |  SELECT source, coalesce(lang, '??') AS lang,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |w AS (
        |  SELECT source, lang, o,
        |    CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS r,
        |    CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT) AS c,
        |    CAST(sum(o) OVER () AS BIGINT) AS n
        |  FROM ct)
        |SELECT source, lang, o, r, c, n,
        |  CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
        |  (CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE))
        |    / (CAST(r * c AS DOUBLE) * CAST(n AS DOUBLE))
        |    AS chi2_contrib
        |FROM w ORDER BY source, lang""".stripMargin),
    // the oracle re-digests the reconciled view FROM SCRATCH (q219's
    // oracle embedded verbatim) — the Spark side must reach the same
    // relation purely by XOR-folding per-epoch diffs
    Query("q226_digest_maintained", digestMaintained(_, _),
      s"""WITH v AS MATERIALIZED (
         |  SELECT * FROM (
         |SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id % 97 <> 0
         |UNION ALL
         |SELECT doc_id, 'restored' AS source, n_chars FROM documents
         |WHERE doc_id % 97 = 0 AND doc_id % 2 = 0
         |  ) t),
         |d AS (
         |  SELECT doc_id % $DigestBuckets AS bucket,
         |    ('0x' || substr(md5(concat_ws('|',
         |      CAST(doc_id AS VARCHAR), source,
         |      CAST(n_chars AS VARCHAR))), 1, 15))::BIGINT AS h
         |  FROM v)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |  bit_xor(h) AS digest
         |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin),
    // digest arithmetic recomputed from the table; the copy columns
    // equal it by definition — which is exactly the witness claim
    Query("q225_zone_digest", zoneDigest(_, _),
      s"""WITH d AS (
         |  SELECT doc_id % $DigestBuckets AS bucket,
         |    ('0x' || substr(md5(concat_ws('|',
         |      CAST(doc_id AS VARCHAR), source,
         |      CAST(n_chars AS VARCHAR))), 1, 15))::BIGINT AS h
         |  FROM documents),
         |g AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |    bit_xor(h) AS digest
         |  FROM d GROUP BY 1)
         |SELECT bucket, n_rows, digest,
         |  n_rows AS copy_n_rows, digest AS copy_digest,
         |  true AS match_ok
         |FROM g ORDER BY bucket""".stripMargin),
    // erase-then-restore as plain set algebra: survivors keep their
    // source; the restored half comes back amended
    Query("q219_erasure_scrub", erasureScrub(_, _),
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id % 97 <> 0
        |UNION ALL
        |SELECT doc_id, 'restored' AS source, n_chars FROM documents
        |WHERE doc_id % 97 = 0 AND doc_id % 2 = 0
        |ORDER BY doc_id""".stripMargin),
    // quadratic NOT EXISTS dominance — the definition the distributed
    // sweep must reproduce; the score subtree is the q154 oracle
    // embedded verbatim (the q166 no-drift discipline)
    Query("q212_pareto_front", paretoFront(_, _),
      s"""WITH dq AS MATERIALIZED (
         |  SELECT * FROM (
         |${graft.text.CorpusStats.LinearQualitySql}
         |  ) q154),
         |p AS MATERIALIZED (
         |  SELECT d.doc_id, d.n_chars, dq.w_sum
         |  FROM documents d JOIN dq ON dq.doc_id = d.doc_id)
         |SELECT p.doc_id, p.n_chars, p.w_sum,
         |  NOT EXISTS (SELECT 1 FROM p q
         |    WHERE q.n_chars >= p.n_chars AND q.w_sum >= p.w_sum
         |      AND (q.n_chars > p.n_chars OR q.w_sum > p.w_sum))
         |    AS on_front
         |FROM p ORDER BY p.doc_id""".stripMargin),
    Query("q213_bitmap_distinct", bitmapDistinct(_, _),
      """WITH t AS (
        |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_all
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  t.n_users_all
        |FROM events, t WHERE user_id IS NOT NULL
        |GROUP BY event_type, t.n_users_all
        |ORDER BY event_type""".stripMargin),
    Query("q294_ks_drift", ksDrift(_, _),
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |csv AS (
        |  SELECT source, v, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |tot AS MATERIALIZED (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |  FROM d GROUP BY 1),
        |big AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |vals AS MATERIALIZED (SELECT DISTINCT v FROM d),
        |grid AS (
        |  SELECT t.source, vals.v,
        |    CAST(coalesce(csv.c, 0) AS BIGINT) AS c
        |  FROM tot t CROSS JOIN vals
        |  LEFT JOIN csv ON csv.source = t.source AND csv.v = vals.v),
        |gc AS (
        |  SELECT vals.v, CAST(sum(coalesce(g.cg, 0)) OVER
        |    (ORDER BY vals.v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum_all
        |  FROM vals LEFT JOIN (
        |    SELECT v, CAST(count(*) AS BIGINT) AS cg
        |    FROM d GROUP BY 1) g ON g.v = vals.v),
        |cs AS (
        |  SELECT source, v, CAST(sum(c) OVER (PARTITION BY source
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS cum_s
        |  FROM grid),
        |nm AS (
        |  SELECT cs.source, t.n_s, big.n - t.n_s AS n_r,
        |    abs(cs.cum_s * (big.n - t.n_s)
        |      - (gc.cum_all - cs.cum_s) * t.n_s) AS num
        |  FROM cs
        |  JOIN gc ON gc.v = cs.v
        |  JOIN tot t ON t.source = cs.source, big)
        |SELECT source, max(n_s) AS n_s, max(n_r) AS n_r,
        |  CAST(max(num) AS BIGINT) AS d_num,
        |  CAST(max(num) AS DOUBLE)
        |    / CAST(max(n_s) * max(n_r) AS DOUBLE) AS ks_d
        |FROM nm GROUP BY source ORDER BY source""".stripMargin),
    Query("q291_trimmed_mean", trimmedMean(_, _),
      s"""WITH hist AS (
         |  SELECT l_returnflag AS g,
         |    CAST(floor(l_quantity) AS BIGINT) AS v,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM lineitem GROUP BY 1, 2),
         |cw AS (
         |  SELECT g, v, cnt,
         |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
         |  FROM hist),
         |cut AS (
         |  SELECT g, v, cnt, n, n // $TrimDen AS k,
         |    least(cum, n // $TrimDen)
         |      - least(cum - cnt, n // $TrimDen) AS lo_cnt,
         |    least(n - (cum - cnt), n // $TrimDen)
         |      - least(n - cum, n // $TrimDen) AS hi_cnt
         |  FROM cw)
         |SELECT g AS l_returnflag, max(n) AS n, max(k) AS k,
         |  max(n) - 2 * max(k) AS trimmed_n,
         |  CAST(sum(v * cnt) - sum(v * lo_cnt) - sum(v * hi_cnt)
         |    AS BIGINT) AS trimmed_sum,
         |  CAST(sum(v * cnt) - sum(v * lo_cnt) - sum(v * hi_cnt)
         |    AS DOUBLE) / CAST(max(n) - 2 * max(k) AS DOUBLE)
         |    AS trimmed_mean
         |FROM cut GROUP BY g
         |ORDER BY l_returnflag""".stripMargin),
    Query("q287_l_diversity", lDiversity(_, _),
      s"""SELECT source, n_chars // 256 AS len_bin,
         |  CAST(count(*) AS BIGINT) AS group_size,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive,
         |  count(DISTINCT lang) >= $LDiv AS diverse
         |FROM documents GROUP BY 1, 2
         |ORDER BY source, len_bin""".stripMargin),
    Query("q214_k_anonymity", kAnonymity(_, _),
      s"""SELECT doc_id, source, lang, n_chars // 256 AS len_bin,
         |  CAST(count(*) OVER
         |    (PARTITION BY source, lang, n_chars // 256) AS BIGINT)
         |    AS group_size,
         |  count(*) OVER
         |    (PARTITION BY source, lang, n_chars // 256) < $K
         |    AS at_risk
         |FROM documents ORDER BY doc_id""".stripMargin),
    // the UNPRUNED definition: every pair of co-occurring tokens,
    // thresholded at the end — the Apriori semi-join must be invisible
    Query("q215_assoc_rules", assocRules(_, _),
      raw"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) AS tok
        |  FROM documents),
        |it AS MATERIALIZED (SELECT DISTINCT doc_id, tok FROM tok),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |ic AS MATERIALIZED (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM it GROUP BY 1),
        |pr AS (
        |  SELECT a.tok AS ta, b.tok AS tb, CAST(count(*) AS BIGINT) AS cab
        |  FROM it a JOIN it b
        |    ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2),
        |bi AS (
        |  SELECT ta AS antecedent, tb AS consequent, cab FROM pr
        |  UNION ALL
        |  SELECT tb, ta, cab FROM pr)
        |SELECT bi.antecedent, bi.consequent, bi.cab AS n_ab,
        |  fa.c AS n_a, fb.c AS n_b, n.n_docs,
        |  CAST(bi.cab AS DOUBLE) / CAST(fa.c AS DOUBLE) AS conf,
        |  CAST(bi.cab * n.n_docs AS DOUBLE)
        |    / CAST(fa.c * fb.c AS DOUBLE) AS lift
        |FROM bi
        |JOIN ic fa ON fa.tok = bi.antecedent
        |JOIN ic fb ON fb.tok = bi.consequent
        |CROSS JOIN n
        |WHERE bi.cab * 10 >= n.n_docs
        |  AND bi.cab * 5 >= 3 * fa.c
        |  AND bi.cab * n.n_docs > fa.c * fb.c
        |ORDER BY bi.antecedent, bi.consequent""".stripMargin))
}
