package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.util.{Checkpoints, Tokens}

/** Postings-relation operators: the EXACT set-similarity self-join
  * (prefix filtering — the lossless counterpart to the MinHash/SimHash
  * approximate family in [[graft.dedup.Dedup]]) and the sharded
  * inverted index.
  *
  * Reference scope: the reference pipeline dedups at whole-row
  * granularity only (`dags/taxi_transform_dag.py`'s DISTINCT-style
  * cleaning); these are the corpus-scale extensions a training-data
  * curation pipeline layers on top.
  */
object Postings extends QueryModule {

  /** (doc_id, sh) distinct-shingle-set relation, materialized ONCE to
    * a parquet scratch zone ([[graft.util.Scratch]]) = one corpus scan
    * + one tokenize/shingle pass, then every consumer branch scans the
    * stored relation. The similarity joins read it from up to six plan
    * branches (postings, document frequencies, both self-join prefix
    * sides, both verification sides); without materialization every
    * branch re-scans parquet and re-shingles the corpus (measured: six
    * `Scan parquet` nodes in the q117 plan). The zone spelling — not
    * `localCheckpoint` — is what holds at 100 TB: the shingle relation
    * is a multiple of the corpus and cannot live in executor storage
    * memory, and a branch that needs only `doc_id` column-prunes the
    * stored copy (PostingsSpec pins zero corpus re-scans). */
  private def shingleSets(s: SparkSession, dir: String,
                          n: Int): DataFrame =
    // memoized per application: q117 and q121 (and re-runs of either)
    // consume the same deterministic (dir, n) derivation
    graft.util.Scratch.memo(s, s"shingles-$n", s"shingles:$dir:$n")(
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), Tokens.whitespace(col("text")).as("w"))
        // materialize w first — inlining the split into the n-gram
        // lambda re-evaluates it per element (Tokens.ngramsOf scaladoc)
        .select(col("doc_id"),
          array_distinct(Tokens.ngramsOf(col("w"), n)).as("sh")))

  /** q117: exact Jaccard similarity self-join via prefix filtering
    * (AllPairs/PPJoin): every document pair whose 5-gram shingle sets
    * have Jaccard ≥ τ = 3/5 — with NO all-pairs comparison and NO
    * approximation. Where q37 (MinHash-LSH) trades recall for speed,
    * prefix filtering is LOSSLESS: sort each document's shingles by a
    * global rarest-first order; a pair with Jaccard ≥ τ must share a
    * shingle within the first |S| − ⌈τ·|S|⌉ + 1 of each side (the
    * ssjoin prefix lemma), so joining only those prefixes generates a
    * candidate superset, and the exact Jaccard filter keeps precision
    * at 1. The oracle is therefore the plain brute-force spelling —
    * the optimization must be invisible in the result.
    *
    * Scale shape: candidates come from one self-equi-join of the
    * PREFIX relation — (1−τ) of the postings, concentrated on RARE
    * shingles (rarest-first order ⇒ a shingle shared by k docs
    * contributes ≤ k·(k−1)/2 candidate rows, and frequent shingles
    * almost never appear in a prefix). Verification is two
    * key-partitioned joins pulling the pre-deduped shingle arrays,
    * then a map-side `array_intersect` — per-pair cost bounded by
    * document size. Threshold math is integer cross-multiplication
    * (τ = 3/5 ⇒ `inter·5 ≥ union·3`): no float comparison can
    * disagree between engines at the boundary.
    */
  /** Per-doc prefix relation (doc_id, sz, s): the first
    * sz − ⌈τ·sz⌉ + 1 shingles in global (df ASC, shingle ASC)
    * rarest-first order, prefix length via exact integer
    * ceil-division. ONE spelling shared by the Jaccard and
    * containment joins — the prefix-length math and ordering key are
    * exactly what the lossless guarantees hang on, so a drifted copy
    * in either operator would silently lose pairs. */
  private def prefixRelation(post: DataFrame, dfreq: DataFrame,
                             tauNum: Int, tauDen: Int): DataFrame =
    post.join(dfreq, "s")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("os"),
        count(lit(1)).as("sz"))
      .withColumn("p",
        col("sz") - expr(s"(sz * $tauNum + ${tauDen - 1}) DIV $tauDen")
          + 1L)
      .select(col("doc_id"), col("sz"),
        explode(expr("slice(os, 1, CAST(p AS INT))")).as("e"))
      .select(col("doc_id"), col("sz"), col("e.s").as("s"))

  /** Verification join shared by both exact joins: pull the
    * pre-deduped shingle arrays for each candidate (a, b) pair and
    * compute (inter, sz_a, sz_b) map-side. */
  private def verifiedOverlap(cand: DataFrame,
                              sets: DataFrame): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("a"), col("sh").as("sh_a")), "a")
      .join(sets.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("inter"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("sh_b")).cast("long").as("sz_b"))

  /** Exact-set families of the (dir, n) shingle relation, memoized
    * per application (r15): the collapse aggregate — canonical
    * survivor (min doc_id + its shingle array) and sorted member
    * list per DISTINCT shingle set — is consumed from ~5 plan
    * branches in EACH of q117 and q121 (docs → post/dfreq/prefix,
    * both verification sides, member re-expansion, within-family).
    * Inlined, every branch re-derived the corpus-scale tokenize →
    * ngrams → md5 → groupBy aggregate (guide §2.4's
    * one-derivation-many-consumers case) and the duplicated subtree
    * made every AQE stage re-optimization walk a plan ~5× the size —
    * measured 11 jobs / ~110 ms inter-stage gap per stage at sf0.1.
    * Deterministic function of (dir, n): survivor is a min, members
    * are sorted — zone-safe. */
  private def setFamilies(s: SparkSession, dir: String,
                          n: Int): DataFrame =
    graft.util.Scratch.memo(s, s"setfams-$n", s"setfams:$dir:$n")(
      shingleSets(s, dir, n)
        .where(col("sh").isNotNull && size(col("sh")) > 0)
        .withColumn("setkey",
          md5(concat_ws("\n", array_sort(col("sh")))))
        .groupBy(col("setkey"))
        .agg(min(struct(col("doc_id"), col("sh"))).as("sv"),
          array_sort(collect_list(col("doc_id"))).as("members")))

  def setSimJoin(s: SparkSession, dir: String, n: Int = 5,
                 tauNum: Int = 3, tauDen: Int = 5): DataFrame = {
    // EXACT-SET COLLAPSE (the Dedup.jaccardPairsUnordered discipline,
    // sf1-measured there): shingle-set Jaccard is a set function, so
    // identical-set documents — clone families the sf1 stress grows
    // 10× — verify once through a canonical rep (min doc_id per
    // sorted-set digest; shingles contain spaces, so the digest joins
    // on '\n', which no token can contain) and the pair list
    // re-expands algebraically: cross-family member pairs inherit the
    // rep pair's (inter, sizes, jaccard) — swapped when the member
    // ordering flips the pair — and within-family pairs are
    // jaccard-1 by identity. Oracle stays brute force: the collapse
    // is verified invisible.
    val fams = setFamilies(s, dir, n)
    val docs = fams.select(col("sv.doc_id").as("doc_id"),
      col("sv.sh").as("sh"))
    val post = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfreq = post.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = prefixRelation(post, dfreq, tauNum, tauDen)

    // candidate pairs: shared prefix shingle + the size filter
    // (J ≥ τ ⇒ τ·max(|A|,|B|) ≤ min(|A|,|B|)) — pruning only, the
    // exact filter below decides membership
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .where(col("a.sz") * tauNum <= col("b.sz") * tauDen &&
        col("b.sz") * tauNum <= col("a.sz") * tauDen)
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .distinct()

    val repPairs = verifiedOverlap(cand, docs)
      .withColumn("union_sz", col("sz_a") + col("sz_b") - col("inter"))
      .where(col("inter") * tauDen >= col("union_sz") * tauNum)
      .select(col("a"), col("b"), col("inter"), col("sz_a"),
        col("sz_b"), (col("inter") / col("union_sz")).as("jaccard"))

    // re-expansion (member lists corpus-derived — UNHINTED joins)
    val mem = fams.select(col("sv.doc_id").as("rid"), col("members"))
    val cross = repPairs
      .join(mem.select(col("rid").as("a"), col("members").as("m1")), "a")
      .join(mem.select(col("rid").as("b"), col("members").as("m2")), "b")
      .select(explode(col("m1")).as("x"), col("m2"), col("inter"),
        col("sz_a"), col("sz_b"), col("jaccard"))
      .select(col("x"), explode(col("m2")).as("y"), col("inter"),
        col("sz_a"), col("sz_b"), col("jaccard"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("inter"),
        when(col("x") < col("y"), col("sz_a")).otherwise(col("sz_b"))
          .as("sz_a"),
        when(col("x") < col("y"), col("sz_b")).otherwise(col("sz_a"))
          .as("sz_b"),
        col("jaccard"))
    val within = fams
      .where(size(col("members")) >= 2)
      .select(col("members"),
        size(col("sv.sh")).cast("long").as("ssz"),
        posexplode(col("members")).as(Seq("i", "x")))
      .select(col("x").as("a"),
        explode(expr("slice(members, i + 2, size(members) - i - 1)"))
          .as("b"),
        col("ssz").as("inter"), col("ssz").as("sz_a"),
        col("ssz").as("sz_b"), lit(1.0).as("jaccard"))
    cross.unionByName(within).orderBy("a", "b")
  }

  /** q121: exact containment self-join — the DIRECTED variant of
    * q117: emit (a, b) when |Sa ∩ Sb| ≥ τ·|Sa|, i.e. document a is
    * τ-contained in b regardless of b's size. This is what Jaccard
    * structurally cannot see: a paragraph quoted inside a much larger
    * page has tiny Jaccard but containment ≈ 1 — the
    * quote/boilerplate/subset detector.
    *
    * Prefix filtering stays lossless but turns ASYMMETRIC: only the
    * probe side a takes a prefix (|Sa| − ⌈τ·|Sa|⌉ + 1 rarest
    * shingles; if prefix(A) ∩ B = ∅ then A∩B fits in A's suffix of
    * ⌈τ·|Sa|⌉ − 1 < required elements), joined against the FULL
    * postings of every candidate b — no size filter exists for
    * containment, which is exactly why the probe prefix matters. The
    * verification join and integer threshold math mirror q117.
    */
  def containmentJoin(s: SparkSession, dir: String, n: Int = 5,
                      tauNum: Int = 4, tauDen: Int = 5): DataFrame = {
    // EXACT-SET COLLAPSE, directed variant (the setSimJoin/q36
    // discipline): containment is a set function, so identical-set
    // families verify once through a rep; DIRECTED rep pairs expand
    // to all (x∈A, y∈B) with the rep's values verbatim (no swap —
    // direction is fixed), and within-family ORDERED pairs (x≠y,
    // both directions — the uncollapsed =!= candidate spelling) are
    // containment-1 by identity. Oracle stays brute force.
    val fams = setFamilies(s, dir, n)
    val docs = fams.select(col("sv.doc_id").as("doc_id"),
      col("sv.sh").as("sh"))
    val post = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfreq = post.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = prefixRelation(post, dfreq, tauNum, tauDen)

    // asymmetric: probe-side prefix against FULL postings (no size
    // filter exists for containment)
    val cand = prefix.as("a").join(post.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .distinct()

    val repPairs = verifiedOverlap(cand, docs)
      .where(col("inter") * tauDen >= col("sz_a") * tauNum)
      .select(col("a"), col("b"), col("inter"), col("sz_a"),
        col("sz_b"), (col("inter") / col("sz_a")).as("containment"))

    val mem = fams.select(col("sv.doc_id").as("rid"), col("members"))
    val cross = repPairs
      .join(mem.select(col("rid").as("a"), col("members").as("m1")), "a")
      .join(mem.select(col("rid").as("b"), col("members").as("m2")), "b")
      .select(explode(col("m1")).as("x"), col("m2"), col("inter"),
        col("sz_a"), col("sz_b"), col("containment"))
      .select(col("x").as("a"), explode(col("m2")).as("b"),
        col("inter"), col("sz_a"), col("sz_b"), col("containment"))
    val within = fams
      .where(size(col("members")) >= 2)
      .select(col("members"),
        size(col("sv.sh")).cast("long").as("ssz"),
        explode(col("members")).as("x"))
      .select(col("x").as("a"), explode(col("members")).as("b"),
        col("ssz").as("inter"), col("ssz").as("sz_a"),
        col("ssz").as("sz_b"), lit(1.0).as("containment"))
      .where(col("a") =!= col("b"))
    cross.unionByName(within).orderBy("a", "b")
  }

  /** q118: sharded inverted index — per (term, doc-block): document
    * frequency, collection frequency, and the doc-sorted postings with
    * aligned term frequencies. The text-retrieval primitive behind
    * every keyword-search / BM25 / contamination-lookup path.
    *
    * Scale shape: the group key is (term, `doc_id DIV blockSize`) —
    * doc-partitioned index sharding, so a stop-word's postings never
    * concentrate in one task or one row: per-group state is bounded
    * by blockSize regardless of term frequency, and block ranges are
    * what a distributed query fans out over (each searcher owns a doc
    * range). `collect_list` here is safe precisely because of that
    * bound — the unsharded spelling (group by term alone) is the
    * classic corpus-scale OOM. Postings are emitted as comma-joined
    * strings: the manifest form a downstream searcher memory-maps,
    * and exactly comparable across engines (the row-hash gate treats
    * array columns engine-specifically, strings identically).
    */
  /** (term, doc_id, tf, blk) postings of a documents relation — the
    * ONE tokenize→tf→block spelling behind the q118 index query. */
  private[graft] def tfRelation(docs: DataFrame,
                                blockSize: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(Tokens.whitespace(lower(col("text")))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      // FLOOR division, spelled exactly: Spark's DIV truncates toward
      // zero while the DuckDB oracle's `//` floors, so a negative
      // doc_id would land in a different block per engine.
      // pmod >= 0 makes the numerator exactly divisible, so the DIV
      // is an exact integer quotient == floor — no double arithmetic.
      .withColumn("blk",
        expr(s"(doc_id - pmod(doc_id, $blockSize)) DIV $blockSize"))

  /** The index relation over a tf relation: per (term, blk) — df, cf,
    * doc-sorted postings/tfs ARRAYS (q118 projects the comma-joined
    * export form). */
  private[graft] def aggIndex(tf: DataFrame): DataFrame =
    tf.groupBy(col("term"), col("blk"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        array_sort(collect_list(struct(col("doc_id"), col("tf"))))
          .as("pl"))
      .select(col("term"), col("blk"), col("df"), col("cf"),
        transform(col("pl"), x => x.getField("doc_id")).as("postings"),
        transform(col("pl"), x => x.getField("tf")).as("tfs"))

  def invertedIndex(s: SparkSession, dir: String,
                    blockSize: Int = 100): DataFrame = {
    val joinStr = (a: Column) =>
      concat_ws(",", transform(a, x => x.cast("string")))
    aggIndex(tfRelation(Tables.load(s, dir, "documents"), blockSize))
      .select(col("term"), col("blk"), col("df"), col("cf"),
        joinStr(col("postings")).as("postings"),
        joinStr(col("tfs")).as("tfs"))
      .orderBy("term", "blk")
  }

  /** q123: keyword search — the retrieval CONSUMER of the postings
    * family: top-k documents for a fixed conjunctive-ish query term
    * set, ranked by a float-free tf·idf score (Σ tf·(N DIV df) — the
    * q104 integer-ranking discipline: no `ln` to disagree in the last
    * ulp between engines; BM25's monotone-in-tf shape without its
    * transcendentals). Ties break on doc_id, so top-k is total-ordered.
    *
    * Scale shape: the term filter lands immediately after the explode,
    * so only query-term occurrences (a vanishing fraction of the token
    * stream) survive into the (doc, term, tf) aggregation; df
    * re-aggregates that tiny relation; N rides in as a broadcast
    * 1-row aggregate (no driver round-trip — the q23 lesson); the
    * global top-k plans as TakeOrderedAndProject (no full sort). A
    * production search serves this from the materialized q118 index
    * zone instead of re-scanning the corpus — same relational shape,
    * scan swapped for an index-block read. */
  def keywordSearch(s: SparkSession, dir: String,
                    terms: Seq[String] = Seq("spark", "data", "vector"),
                    k: Int = 10): DataFrame = {
    val tf = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(Tokens.whitespace(lower(col("text")))).as("term"))
      .where(col("term").isInCollection(terms))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.load(s, dir, "documents")
      .agg(count(lit(1)).as("n"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"),
        sum(col("tf") * expr("n DIV df")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The `lc-tokens` zone: (doc_id, w = whitespace tokens of the
    * lower-cased text), tokenized once per (dir, application) and read
    * by phrase search, HITS, TextRank, BM25 and vocabulary growth. */
  private def lcTokens(s: SparkSession, dir: String): DataFrame =
    graft.util.Scratch.memo(s, "lc-tokens", s"lc-tokens:$dir")(
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          Tokens.whitespace(lower(col("text"))).as("w")))

  /** q152: exact phrase search — consecutive-token phrase occurrences
    * across the corpus (the "grep the corpus" primitive a curation
    * pipeline runs for boilerplate strings, eval-prompt leaks, or
    * contract phrases): every document containing the query tokens at
    * consecutive positions, with match count and the 0-based start
    * positions (comma-joined — the cross-engine array form this
    * module's postings already use).
    *
    * Scale shape: entirely MAP-SIDE — the k-way positional alignment
    * is a `filter` over start indices of each document's own token
    * array (one zone scan, zero shuffles before the output sort;
    * stays in whole-stage codegen). This is the right plan for a
    * corpus grep: a positional-postings join spelling would shuffle
    * (doc, pos) pairs k ways to rediscover adjacency the array
    * already encodes. A production search over a MAINTAINED index
    * serves the same relation from q118's zone restricted to the
    * phrase's rarest term (the q123 note) — scan swapped for pruned
    * index-block reads.
    *
    * The token arrays come from a parquet scratch zone ON PURPOSE,
    * not straight off the tokenize projection: `element_at(w, …)`
    * references `w` once per phrase term per position, and
    * CollapseProject inlines a projected `split()` into the lambda —
    * re-tokenizing the document O(positions × terms) times (measured
    * 7.6 s → 0.6 s for this query at sf0.1 local[32]). A parquet-
    * backed `w` is a leaf attribute, which nothing can inline. */
  def phraseSearch(s: SparkSession, dir: String,
                   phrase: Seq[String] = Seq("value", "table")): DataFrame = {
    require(phrase.nonEmpty, "phrase search wants at least one token")
    val k = phrase.length
    val w = col("w")
    val matchAt = (i: Column) => phrase.zipWithIndex.map { case (t, j) =>
      element_at(w, (i + lit(j) + 1).cast("int")) === t
    }.reduce(_ && _)
    lcTokens(s, dir)
      .withColumn("hits",
        when(size(w) < k, expr("CAST(array() AS ARRAY<BIGINT>)"))
          .otherwise(filter(
            sequence(lit(0L), size(w).cast("long") - k), matchAt)))
      .where(size(col("hits")) > 0)
      .select(col("doc_id"), size(col("hits")).cast("long").as("n_matches"),
        concat_ws(",", transform(col("hits"), x => x.cast("string")))
          .as("positions"))
      .orderBy("doc_id")
  }

  /** q273's constants — shared with the oracle's unrolled chain. */
  val HitsRounds = 4
  /** Shift-normalization budget (bits): after every half-step the
    * relation is right-shifted so its max fits [[HitsBits]] bits —
    * the q177 power-iteration discipline, which is what keeps a
    * normalization-hungry iteration (classic HITS renormalizes with
    * a float 2-norm every round) inside exact integer arithmetic. */
  val HitsBits = 20
  /** Document-frequency band [2, ⌊pct·n_docs⌋/100]: singleton terms
    * carry no linkage, and near-ubiquitous terms are stop-words whose
    * bipartite fan-in approaches O(corpus) — the upper bound is
    * CORPUS-RELATIVE (the CountVectorizer `max_df` discipline, and
    * the only band that is non-degenerate at every scale: an absolute
    * cap tuned for one corpus is empty or saturated at another). The
    * threshold is exact integer arithmetic ((pct·n) div 100) computed
    * from the same count in both engines. At 100 TB a production run
    * would ALSO clamp with an absolute per-term fan-in cap (the
    * q117/q199 candidate-bounding discipline); the relative band is
    * the semantic contract, the absolute clamp an execution knob. */
  val HitsDfPct = 95

  /** q273: HITS hubs on the doc↔term bipartite graph (Kleinberg
    * 1999): auth(term) = Σ hub(docs containing it), hub(doc) =
    * Σ auth(its terms), alternated [[HitsRounds]] times from uniform
    * hubs — the query-independent "is this document a good cover of
    * the discriminative vocabulary" score, and the bipartite sibling
    * of q180's PageRank on the kNN graph. All arithmetic is exact
    * integer: sums over 8-byte term hashes' edge lists, with
    * bit-length shift normalization per half-step (see [[HitsBits]]).
    *
    * Scale shape: the edge relation is DISTINCT (doc, term-hash)
    * df-banded (see [[HitsDfPct]]) — stop-word fan-in is excluded, so
    * each half-step is one key-partitioned join + rollup (the q180
    * iterate shape, alternating which side is the key); the 1-row
    * shift/threshold relations are the sanctioned constant
    * broadcasts; per-round state is rooted through
    * [[graft.util.Checkpoints.iterate]] (the q232 lineage rule). */
  /** Terms inside the [2, (pct·n_docs) div 100] df band from a
    * distinct (doc_id, th) relation — the shared q273/q280 vertex
    * set. The 1-row threshold is the sanctioned constant broadcast. */
  private def dfBanded(s: SparkSession, dir: String,
                       pairs: DataFrame): DataFrame = {
    val cap = Tables.load(s, dir, "documents")
      .agg(expr(s"($HitsDfPct * count(1)) div 100").as("cap"))
    pairs.groupBy(col("th"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(cap))
      .where(col("df") >= 2 && col("df") <= col("cap"))
      .select(col("th"))
  }

  /** The df band as DuckDB HAVING text — same integer arithmetic. */
  private def dfBandSql: String =
    s"HAVING count(*) >= 2 AND count(*) <= " +
      s"($HitsDfPct * (SELECT count(*) FROM documents)) // 100"

  def hitsHubs(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Md5Prefix
    val toks = lcTokens(s, dir)
    val pairs = toks
      .select(col("doc_id"), explode(col("w")).as("t"))
      .select(col("doc_id"), Md5Prefix.h(col("t")).as("th"))
      .distinct()
    val banded = dfBanded(s, dir, pairs)
    val edges = Checkpoints.root(pairs.join(banded, "th")) // read 2×/round
    // session width, NOT the q232 round-width/AQE-gate treatment: probed
    // r15 a 3.16 → 3.52 s LOSS. Hubs are read twice next round: rooted.
    val hub = Checkpoints.iterate("hitsHubs",
      edges.select(col("doc_id")).distinct()
        .withColumn("h", lit(1L << HitsBits)),
      Checkpoints.Rounds(HitsRounds)) { (hub, _) =>
      val authRaw = edges.join(hub, "doc_id")
        .groupBy(col("th")).agg(sum(col("h")).as("a"))
      val aSh = authRaw.agg(greatest(lit(0),
        length(bin(max(col("a")))).cast("int") - lit(HitsBits))
        .as("sh"))
      val auth = authRaw.crossJoin(broadcast(aSh))
        .select(col("th"), expr("shiftright(a, sh)").as("a"))
      val hubRaw = edges.join(auth, "th")
        .groupBy(col("doc_id")).agg(sum(col("a")).as("hr"))
      val hSh = hubRaw.agg(greatest(lit(0),
        length(bin(max(col("hr")))).cast("int") - lit(HitsBits))
        .as("sh"))
      Some(hubRaw.crossJoin(broadcast(hSh))
        .select(col("doc_id"), expr("shiftright(hr, sh)").as("h")))
    }
    hub.select(col("doc_id"), col("h").as("hub_fp"))
      .orderBy("doc_id")
  }

  /** The unrolled HITS half-steps as DuckDB CTEs — generated from
    * the SAME constants the Spark loop uses. */
  private def hitsIterSql: String =
    (1 to HitsRounds).map { r =>
      s"""ar$r AS (
         |  SELECT e.th, CAST(sum(h.h) AS BIGINT) AS a
         |  FROM e JOIN h${r - 1} h USING (doc_id) GROUP BY 1),
         |ash$r AS (SELECT greatest(0,
         |  length(bin(max(a))) - $HitsBits) AS sh FROM ar$r),
         |a$r AS MATERIALIZED (
         |  SELECT th, a >> sh AS a FROM ar$r, ash$r),
         |hr$r AS (
         |  SELECT e.doc_id, CAST(sum(a.a) AS BIGINT) AS hr
         |  FROM e JOIN a$r a USING (th) GROUP BY 1),
         |hsh$r AS (SELECT greatest(0,
         |  length(bin(max(hr))) - $HitsBits) AS sh FROM hr$r),
         |h$r AS MATERIALIZED (
         |  SELECT doc_id, hr >> sh AS h FROM hr$r, hsh$r)"""
        .stripMargin
    }.mkString(",\n")

  private[text] def hitsOracleSql: String =
    raw"""WITH w AS (
      |  SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+') AS w
      |  FROM documents),
      |pairs AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS th
      |  FROM (SELECT doc_id, unnest(w) AS t FROM w)),
      |banded AS (
      |  SELECT th FROM pairs GROUP BY th
      |  """.stripMargin +
      s"""$dfBandSql),
      |e AS MATERIALIZED (
      |  SELECT p.doc_id, p.th FROM pairs p JOIN banded USING (th)),
      |h0 AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    CAST(${1L << HitsBits} AS BIGINT) AS h FROM e),
      |$hitsIterSql
      |SELECT doc_id, h AS hub_fp FROM h$HitsRounds
      |ORDER BY doc_id""".stripMargin

  /** q280's constants — shared with the oracle's unrolled chain. */
  val TrRounds = 4
  /** Fixed-point scale (rank mass × 2¹⁶ per term). */
  val TrScale = 1L << 16
  /** ⌊0.15 · 2¹⁶⌋ — the damping base term, integer floor in both
    * engines. */
  val TrBase = 15L * TrScale / 100L

  /** q280: TextRank keyword scores (Mihalcea & Tarau 2004) — damped
    * PageRank over the token CO-OCCURRENCE graph (adjacent-token
    * pairs, window 2), the unsupervised keyword extractor an LLM
    * curation pipeline runs for topic tagging and prompt mining.
    * Same exact-integer discipline as q180/q276: ranks are 2¹⁶-scaled
    * BIGINTs, each round routes r(u)·w(u,v) div wdeg(u) along the
    * weighted edges and re-bases with ⌊0.15·2¹⁶⌋ + (85·inflow) div
    * 100 — floor-division mass leak is identical in both engines, so
    * the fixpoint gates hash-exact.
    *
    * Vertex set is df-banded (the q273 [[HitsDfPct]] rule): singleton
    * terms can't rank and stop-word hubs would make the co-occurrence
    * fan-in O(corpus) — the band is the semantic cap; production adds
    * an absolute fan-in clamp on top.
    *
    * Scale shape: pair extraction is map-side over the shared
    * lc-tokens zone (adjacent positions only — no within-doc
    * quadratic); the edge relation is ≤ token-count rows rolled up to
    * (th1, th2) weights; each round is one src-keyed join + one
    * dst-keyed rollup over that edge relation (the q180 iterate
    * shape). The rank chain is SINGLE-consumer (each round reads the
    * previous rank exactly once), so like q180's PrIters loop it runs
    * fully unrolled — r14 A/B measured the per-round eager
    * localCheckpoints as pure job-barrier overhead here (warm 2.70 →
    * 2.18 s at sf0.1); the q232 checkpoint rule stays for loops whose
    * round state has MULTIPLE consumers (q273's shift scalars). */
  def textrankTerms(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Md5Prefix
    val toks = lcTokens(s, dir)
    // distinct (doc, term) for the df band + the hash→term names
    val docTerm = toks
      .select(col("doc_id"), explode(col("w")).as("t"))
      .select(col("doc_id"), col("t"), Md5Prefix.h(col("t")).as("th"))
      .distinct()
    val banded = dfBanded(s, dir,
      docTerm.select(col("doc_id"), col("th")))
    val names = Checkpoints.root(docTerm.join(banded, "th")
      .groupBy(col("th")).agg(min(col("t")).as("term"))) // per round + exit
    // adjacent-pair occurrences, both directions, banded endpoints
    val adj = toks.where(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS a, w[i] AS b))")).as("p"))
      .where(col("p.a") =!= col("p.b"))
      .select(Md5Prefix.h(col("p.a")).as("x"),
        Md5Prefix.h(col("p.b")).as("y"))
    val edges = Checkpoints.root(adj.select(col("x"), col("y"))
      .union(adj.select(col("y").as("x"), col("x").as("y")))
      .join(banded.select(col("th").as("x")), "x")
      .join(banded.select(col("th").as("y")), "y")
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("wt"))
      .withColumn("wdeg", sum(col("wt"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("x"))))) // consumed once per round
    var rank = names.select(col("th"), lit(TrScale).as("r"))
    for (_ <- 1 to TrRounds) {
      val inflow = edges.join(rank, edges("x") === rank("th"))
        .select(col("y"), expr("(r * wt) div wdeg").as("c"))
        .groupBy(col("y")).agg(sum(col("c")).as("inflow"))
      rank = names.join(inflow, names("th") === inflow("y"), "left")
        .select(names("th"),
          (lit(TrBase) + expr(
            "(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100"))
            .as("r"))
    }
    rank.join(names, "th")
      .select(col("term"), col("r").as("rank_fp"))
      .orderBy("term")
  }

  /** The unrolled TextRank rounds as DuckDB CTEs — generated from
    * the SAME constants the Spark loop uses. */
  private def trIterSql: String =
    (1 to TrRounds).map { k =>
      s"""tf$k AS (
         |  SELECT e.y, CAST(sum((r.r * e.wt) // e.wdeg) AS BIGINT)
         |    AS inflow
         |  FROM edges e JOIN r${k - 1} r ON r.th = e.x GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT n.th, CAST($TrBase AS BIGINT)
         |    + (85 * coalesce(f.inflow, CAST(0 AS BIGINT))) // 100
         |    AS r
         |  FROM names n LEFT JOIN tf$k f ON f.y = n.th)"""
        .stripMargin
    }.mkString(",\n")

  private[text] def textrankOracleSql: String =
    raw"""WITH w AS (
      |  SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+') AS w
      |  FROM documents),
      |dt AS (
      |  SELECT DISTINCT doc_id, t,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS th
      |  FROM (SELECT doc_id, unnest(w) AS t FROM w)),
      |banded AS MATERIALIZED (
      |  SELECT th FROM dt GROUP BY th
      |  """.stripMargin +
      s"""$dfBandSql),
      |names AS MATERIALIZED (
      |  SELECT d.th, min(d.t) AS term
      |  FROM dt d JOIN banded USING (th) GROUP BY d.th),
      |adj AS (
      |  SELECT unnest([{'a': w[i], 'b': w[i+1]}
      |      for i in range(1, len(w)) if w[i] <> w[i+1]]) AS p
      |  FROM w WHERE len(w) >= 2),
      |ad AS (
      |  SELECT ('0x' || substr(md5(p.a), 1, 15))::BIGINT AS x,
      |    ('0x' || substr(md5(p.b), 1, 15))::BIGINT AS y
      |  FROM adj),
      |und AS (
      |  SELECT x, y FROM ad
      |  UNION ALL SELECT y AS x, x AS y FROM ad),
      |ew AS (
      |  SELECT u.x, u.y, CAST(count(*) AS BIGINT) AS wt
      |  FROM und u
      |  JOIN banded bx ON bx.th = u.x
      |  JOIN banded by_ ON by_.th = u.y
      |  GROUP BY 1, 2),
      |edges AS MATERIALIZED (
      |  SELECT x, y, wt,
      |    CAST(sum(wt) OVER (PARTITION BY x) AS BIGINT) AS wdeg
      |  FROM ew),
      |r0 AS MATERIALIZED (
      |  SELECT th, CAST($TrScale AS BIGINT) AS r FROM names),
      |$trIterSql
      |SELECT n.term, r.r AS rank_fp
      |FROM r$TrRounds r JOIN names n ON n.th = r.th
      |ORDER BY n.term""".stripMargin

  /** q283's constants — shared with the oracle text. */
  val Bm25K = 10
  /** Fixed-point scale for both the tf normalization and the idf. */
  val Bm25Scale = 1L << 10
  /** The gate's query terms (present in the synthetic vocabulary). */
  val Bm25Query = Seq("spark", "hash", "stream")

  /** q283: BM25 top-k retrieval (Robertson & Walker 1994) in EXACT
    * integer arithmetic — the lexical-ranking baseline next to the
    * embedding family (and the scorer a retrieval-eval harness like
    * q199 would weight candidates with). Two integerizations, both
    * documented deviations with the classic float formula as their
    * monotone source:
    *   - tf side: tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with k1=1.2,
    *     b=0.75 is EXACTLY rational once scaled by 10·total_tokens —
    *     numerator 22·tf·total, denominator 10·total·tf + 3·total +
    *     9·dl·N — so the fixed-point value ((Scale·num) div den) is
    *     bit-identical in both engines.
    *   - idf side: the classic log((N−df+0.5)/(df+0.5)) is
    *     transcendental (ln is NOT correctly rounded — a cross-engine
    *     drift risk the float discipline forbids) and its bit-length
    *     log2 floor is uniformly 0 on a high-df vocabulary; we rank
    *     by the PRE-LOG ODDS (Scale·(2N−2df+1)) div (2df+1) — exact,
    *     strictly monotone in the classic idf, never degenerate.
    * Score = Σ_terms idf_fp·tfn_fp (2²⁰-scaled), ties broken by
    * doc_id — a total order, so top-k gates hash-exact.
    *
    * Scale shape: the term filter hits the lc-tokens explode
    * map-side (|terms| is a constant); tf is a (doc, term)-keyed
    * rollup over matched occurrences only; df and the corpus stats
    * are |terms|-row / 1-row relations (sanctioned broadcasts); the
    * final top-k is the q15 WindowGroupLimit / TopK shape. Overflow:
    * Scale·22·tf·total ≤ 2⁶³ up to ~10¹⁴ total tokens; past that,
    * the q241 DECIMAL(38) escape. */
  def bm25TopK(s: SparkSession, dir: String,
               terms: Seq[String] = Bm25Query): DataFrame =
    bm25Scores(s, dir, terms)
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(Bm25K)

  /** The matched-term relations of the BM25 machinery — (tf, df, dl,
    * stats), shared by q283 and q311 so the fusion ranks the SAME
    * scores the lexical gate verifies. */
  private def bm25Parts(s: SparkSession, dir: String, terms: Seq[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val toks = lcTokens(s, dir)
    val dl = toks.select(col("doc_id"),
      size(col("w")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      sum(col("dl")).as("total"))
    val tf = toks.select(col("doc_id"), explode(col("w")).as("t"))
      .where(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("t"))
      .agg(count(lit(1)).as("df"))
    (tf, df, dl, stats)
  }

  /** The pre-top-k (doc_id, score_fp, n_terms) BM25-scored relation. */
  private[text] def bm25Scores(s: SparkSession, dir: String,
                               terms: Seq[String] = Bm25Query): DataFrame = {
    val (tf, df, dl, stats) = bm25Parts(s, dir, terms)
    val contrib = tf
      .join(broadcast(df), "t") // |terms| rows — constant-bounded
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats)) // 1 row — sanctioned
      .select(col("doc_id"),
        expr(s"(($Bm25Scale * (2*n - 2*df + 1)) div (2*df + 1)) * " +
          s"(($Bm25Scale * 22 * tf * total) div " +
          "(10 * total * tf + 3 * total + 9 * dl * n))").as("c"))
    contrib.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("score_fp"),
        count(lit(1)).as("n_terms"))
  }

  /** q311 constants: candidates taken from each system, the RRF rank
    * damping constant (Cormack, Clarke & Büttcher 2009), the fixed-
    * point scale, and the fused cut. At Scale = 2⁴⁰ adjacent-rank
    * reciprocals differ by ≥ 2⁴⁰·(1/(K+C)² − …) ≈ 1.7·10⁸, so the
    * floor never merges distinct ranks — the integer score is
    * strictly monotone in the real-valued RRF over the rank domain. */
  val RrfC = 20
  val RrfK = 60
  val RrfScale: Long = 1L << 40
  val RrfTop = 10

  /** q311: reciprocal-rank fusion of two retrieval systems — the
    * hybrid-search primitive (score = Σ 1/(K + rankᵢ), Cormack et al.
    * 2009) that merges a length-normalized lexical ranking with any
    * second ranker without score calibration. System A is q283's
    * exact-integer BM25; system B is the same matched-term relations
    * scored as raw tf·idf (NO length normalization — the classic
    * ranker BM25 was built to fix, so the two genuinely disagree and
    * the fusion is non-trivial: long keyword-dense docs rise in B,
    * normalized docs in A). The reciprocal is integerized as
    * RrfScale div (K + r) — exact, identical cross-engine, strictly
    * rank-monotone (see [[RrfScale]]); absent ranks contribute 0 and
    * surface as −1.
    *
    * Scale shape: ONE tf/df derivation feeds both scorers; each
    * system's candidate cut is a TakeOrdered top-C (per-partition
    * heaps); every window and join after that runs on ≤ C = 20 rows
    * (constant-bounded). At 100 TB the fusion itself is free — the
    * cost is the two scans the scorers already pay. */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (tf, df, _, stats) = bm25Parts(s, dir, Bm25Query)
    val lexScore = bm25Scores(s, dir, Bm25Query)
      .select(col("doc_id"), col("score_fp"))
    val plainScore = tf
      .join(broadcast(df), "t") // |terms| rows — constant-bounded
      .crossJoin(broadcast(stats)) // 1 row — sanctioned
      .select(col("doc_id"),
        expr(s"tf * (($Bm25Scale * (2*n - 2*df + 1)) div (2*df + 1))")
          .as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("score_fp"))
    def topRanked(scores: DataFrame, rName: String): DataFrame =
      scores.orderBy(col("score_fp").desc, col("doc_id")).limit(RrfC)
        // bounded window: ≤ RrfC rows by construction
        .withColumn(rName, row_number().over(
          Window.orderBy(col("score_fp").desc, col("doc_id"))))
        .select(col("doc_id"), col(rName))
    val ra = topRanked(lexScore, "r_lex")
    val rb = topRanked(plainScore, "r_plain")
    ra.join(rb, Seq("doc_id"), "full_outer")
      .withColumn("score_rrf",
        coalesce(expr(s"CAST($RrfScale AS BIGINT) div " +
          s"(CAST($RrfK AS BIGINT) + r_lex)"), lit(0L)) +
          coalesce(expr(s"CAST($RrfScale AS BIGINT) div " +
            s"(CAST($RrfK AS BIGINT) + r_plain)"), lit(0L)))
      .select(col("doc_id"),
        coalesce(col("r_lex").cast("long"), lit(-1L)).as("r_lex"),
        coalesce(col("r_plain").cast("long"), lit(-1L)).as("r_plain"),
        col("score_rrf"))
      .orderBy(col("score_rrf").desc, col("doc_id"))
      .limit(RrfTop)
  }

  /** The shared BM25 CTE prefix (through the per-term contribution
    * relation `sc`) — spliced into both q283's and q311's oracles so
    * the fused ranking can never drift from the lexical gate. */
  private def bm25CtesSql: String = {
    val inList = Bm25Query.map(t => s"'$t'").mkString(", ")
    raw"""w AS (
      |  SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+') AS w
      |  FROM documents),
      |dl AS MATERIALIZED (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM w),
      |st AS MATERIALIZED (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(dl) AS BIGINT) AS total FROM dl),
      |tf AS MATERIALIZED (
      |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS t FROM w)
      |  """.stripMargin +
      s"""WHERE t IN ($inList) GROUP BY 1, 2),
      |df AS MATERIALIZED (
      |  SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id,
      |    (($Bm25Scale * (2*st.n - 2*df.df + 1)) // (2*df.df + 1)) *
      |    (($Bm25Scale * 22 * tf.tf * st.total) //
      |      (10*st.total*tf.tf + 3*st.total + 9*dl.dl*st.n)) AS c
      |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id), st)""".stripMargin
  }

  private[text] def bm25OracleSql: String =
    s"""WITH $bm25CtesSql
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_fp,
      |  CAST(count(*) AS BIGINT) AS n_terms
      |FROM sc GROUP BY 1
      |ORDER BY score_fp DESC, doc_id LIMIT $Bm25K""".stripMargin

  private[text] def rrfOracleSql: String =
    s"""WITH $bm25CtesSql,
      |sa AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS s
      |       FROM sc GROUP BY 1),
      |sb0 AS (
      |  SELECT tf.doc_id,
      |    tf.tf * (($Bm25Scale * (2*st.n - 2*df.df + 1))
      |      // (2*df.df + 1)) AS c
      |  FROM tf JOIN df USING (t), st),
      |sb AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS s
      |       FROM sb0 GROUP BY 1),
      |ra AS (SELECT doc_id, r FROM (
      |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
      |  FROM sa) WHERE r <= $RrfC),
      |rb AS (SELECT doc_id, r FROM (
      |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
      |  FROM sb) WHERE r <= $RrfC),
      |f AS (
      |  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
      |    CAST(coalesce(ra.r, -1) AS BIGINT) AS r_lex,
      |    CAST(coalesce(rb.r, -1) AS BIGINT) AS r_plain,
      |    coalesce($RrfScale // ($RrfK + ra.r), 0)
      |      + coalesce($RrfScale // ($RrfK + rb.r), 0) AS score_rrf
      |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
      |SELECT doc_id, r_lex, r_plain,
      |  CAST(score_rrf AS BIGINT) AS score_rrf
      |FROM f ORDER BY score_rrf DESC, doc_id LIMIT $RrfTop""".stripMargin

  /** q301's checkpoint count (prefix fractions of the id range). */
  val VocabSteps = 10

  /** q301: vocabulary growth curve (Heaps' law empirics) — distinct
    * vocabulary size and token volume at [[VocabSteps]] id-ordered
    * prefix checkpoints of the corpus: the "is the vocabulary still
    * growing" signal behind tokenizer sizing and dedup ROI. Each
    * term contributes at its FIRST document (min doc_id), each doc's
    * tokens at its own id, both bucketed by value thresholds
    * t_k = (max_id·k) div STEPS — all integer; the cumulative sums
    * run over exactly [[VocabSteps]] rows.
    *
    * Scale shape: one (term → min doc) rollup and one per-doc token
    * count, each mapped to its checkpoint bucket — NO global
    * row_number over the corpus (value-threshold checkpoints, not
    * rank checkpoints, are what survive 100 TB); the window runs on
    * the 10-row checkpoint relation. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Md5Prefix
    import org.apache.spark.sql.expressions.Window
    val toks = lcTokens(s, dir)
    val maxId = toks.agg(max(col("doc_id")).as("max_id"))
    // integer ceil bucket, clamped to [1, STEPS] (doc_id 0 would
    // otherwise land in bucket 0): pure BIGINT arithmetic — no
    // float division anywhere near a checkpoint boundary
    def bucketSql(c: String): String =
      s"greatest(CAST(1 AS BIGINT), least(CAST($VocabSteps AS BIGINT)," +
        s" ($c * $VocabSteps + max_id - 1) div max_id))"
    val firstDoc = toks
      .select(col("doc_id"), explode(col("w")).as("t"))
      .select(col("doc_id"), Md5Prefix.h(col("t")).as("th"))
      .groupBy(col("th")).agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(maxId))
      .select(expr(bucketSql("fd")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("new_terms"))
    val docTok = toks
      .select(col("doc_id"), size(col("w")).cast("long").as("nt"))
      .crossJoin(broadcast(maxId))
      .select(expr(bucketSql("doc_id")).as("k"), col("nt"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("new_docs"), sum(col("nt")).as("new_toks"))
    val grid = s.range(1, VocabSteps + 1).select(col("id").as("k"))
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(firstDoc, Seq("k"), "left")
      .join(docTok, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("new_docs"), lit(0L)).as("nd"),
        coalesce(col("new_toks"), lit(0L)).as("nt"),
        coalesce(col("new_terms"), lit(0L)).as("nv"))
      .select(col("k"), sum(col("nd")).over(w).as("n_docs"),
        sum(col("nt")).over(w).as("n_tokens"),
        sum(col("nv")).over(w).as("vocab"))
      .orderBy("k")
  }

  lazy val records: Seq[Query] = Seq(
    Query("q301_vocab_growth", vocabGrowth(_, _),
      (raw"""WITH w AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+') AS w
        |  FROM documents),
        |mx AS (SELECT max(doc_id) AS max_id FROM w),
        |fd AS (
        |  SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT AS th,
        |    CAST(min(doc_id) AS BIGINT) AS fd
        |  FROM (SELECT doc_id, unnest(w) AS t FROM w)
        |  GROUP BY 1),
        |""".stripMargin +
        s"""ft AS (
        |  SELECT greatest(1, least($VocabSteps,
        |    (fd * $VocabSteps + max_id - 1) // max_id)) AS k,
        |    CAST(count(*) AS BIGINT) AS new_terms
        |  FROM fd, mx GROUP BY 1),
        |dt AS (
        |  SELECT greatest(1, least($VocabSteps,
        |    (doc_id * $VocabSteps + max_id - 1) // max_id)) AS k,
        |    CAST(count(*) AS BIGINT) AS new_docs,
        |    CAST(sum(len(w)) AS BIGINT) AS new_toks
        |  FROM w, mx GROUP BY 1),
        |grid AS (SELECT unnest(range(1, $VocabSteps + 1)) AS k)
        |SELECT CAST(g.k AS BIGINT) AS k,
        |  CAST(sum(coalesce(dt.new_docs, 0)) OVER wk AS BIGINT)
        |    AS n_docs,
        |  CAST(sum(coalesce(dt.new_toks, 0)) OVER wk AS BIGINT)
        |    AS n_tokens,
        |  CAST(sum(coalesce(ft.new_terms, 0)) OVER wk AS BIGINT)
        |    AS vocab
        |FROM grid g
        |LEFT JOIN ft ON ft.k = g.k
        |LEFT JOIN dt ON dt.k = g.k
        |WINDOW wk AS (ORDER BY g.k
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY k""".stripMargin)),
    Query("q283_bm25_topk", bm25TopK(_, _), bm25OracleSql),
    Query("q311_rrf_fusion", rrfFusion(_, _), rrfOracleSql),
    Query("q280_textrank_terms", textrankTerms(_, _), textrankOracleSql),
    Query("q273_hits_hubs", hitsHubs(_, _), hitsOracleSql),
    // n_matches is INTEGER in the comprehension replay; the engine
    // side emits BIGINT — cast to match
    Query("q152_phrase_search", phraseSearch(_, _),
      raw"""WITH w AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+') AS w
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    [i for i in range(0, len(w) - 1)
        |     if w[i+1] = 'value' AND w[i+2] = 'table'] AS hits
        |  FROM w WHERE len(w) >= 2)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
        |  array_to_string(hits, ',') AS positions
        |FROM h WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin),
    // brute force on purpose: prefix filtering is lossless, so the
    // result must equal the all-candidate spelling exactly
    Query("q117_setsim_join", setSimJoin(_, _),
      raw"""WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\v\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
        |         ELSE [array_to_string(w[i+1:i+5], ' ')
        |               for i in range(0, len(w) - 4)] END)) AS s
        |  FROM w),
        |sz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
        |  FROM sh GROUP BY 1),
        |pair AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.a, p.b, p.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |  p.inter / (sa.sz + sb.sz - p.inter) AS jaccard
        |FROM pair p
        |JOIN sz sa ON sa.doc_id = p.a
        |JOIN sz sb ON sb.doc_id = p.b
        |WHERE p.inter * 5 >= (sa.sz + sb.sz - p.inter) * 3
        |ORDER BY a, b""".stripMargin),
    Query("q118_inverted_index", invertedIndex(_, _),
      raw"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2)
        |SELECT term, doc_id // 100 AS blk, count(*) AS df,
        |  CAST(sum(tf) AS BIGINT) AS cf,
        |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings,
        |  array_to_string(list(tf ORDER BY doc_id), ',') AS tfs
        |FROM tf GROUP BY 1, 2 ORDER BY term, blk""".stripMargin),
    Query("q121_containment_join", containmentJoin(_, _),
      raw"""WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\v\f\r]+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
        |         ELSE [array_to_string(w[i+1:i+5], ' ')
        |               for i in range(0, len(w) - 4)] END)) AS s
        |  FROM w),
        |sz AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
        |  FROM sh GROUP BY 1),
        |pair AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.a, p.b, p.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |  p.inter / sa.sz AS containment
        |FROM pair p
        |JOIN sz sa ON sa.doc_id = p.a
        |JOIN sz sb ON sb.doc_id = p.b
        |WHERE p.inter * 5 >= sa.sz * 4
        |ORDER BY a, b""".stripMargin),
    Query("q123_keyword_search", keywordSearch(_, _),
      raw"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok WHERE term IN ('spark', 'data', 'vector')
        |  GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |       FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_hit,
        |  CAST(sum(tf.tf * (n.n // df.df)) AS BIGINT) AS score
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |GROUP BY 1
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin))
}
