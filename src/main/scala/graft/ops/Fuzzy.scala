package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}

/** Approximate-string (edit-distance) similarity self-join — the
  * record-linkage primitive the relational side of a curation
  * pipeline needs: near-identical entity KEYS (customer names, user
  * handles, product titles differing by one typo) that exact
  * `groupBy` dedup (q34) cannot see and token-set similarity (q36,
  * q117) sees only when the typo splits a token.
  *
  * Blocking is the SymSpell / deletion-neighborhood scheme (Garbe's
  * public symmetric-delete algorithm, also FastSS, Bocek et al.
  * 2007): every string generates its ≤[[MaxEdits]]-character
  * deletion variants (plus itself) as join keys, and two strings
  * within edit distance τ ALWAYS share a variant — so candidate
  * generation is a key-equality join (shuffle on short string keys,
  * O(len^τ) keys per row), never a corpus² comparison, and the final
  * `levenshtein ≤ τ` filter makes any false candidate invisible.
  * Completeness of the blocking is exhaustively spec-tested over the
  * full string space of a small alphabet (FuzzySpec); the oracle is
  * the BRUTE-FORCE all-pairs levenshtein join, so a lossy block
  * would fail the gate loudly.
  *
  * Scale shape (100 TB): exact-set collapse at birth (the q192
  * discipline) — identical names join as ONE representative and the
  * pair list re-expands algebraically afterwards, so a
  * mass-duplicated key costs its distinct core, with the quadratic
  * within-name expansion being genuine output, not work. The key
  * join shuffles O(n·len) short strings; no broadcast hints anywhere
  * (the corpus-growing-side discipline) — the optimizer picks
  * broadcast below threshold, id-keyed shuffle above.
  */
object Fuzzy extends QueryModule {

  /** Edit-distance radius of the gate query (the library API takes
    * any τ ∈ {1, 2}). */
  val MaxEdits = 1

  /** SQL expression (over a string column named `src`) for the
    * deletion neighborhood: the string itself plus every variant
    * obtainable by deleting ≤ τ characters. The inner lambda guards
    * empty strings because Spark's `sequence(1, 0)` DESCENDS (it
    * would fabricate [1, 0]) instead of yielding an empty array. */
  private[graft] def delKeysExpr(src: String, maxEdits: Int): String = {
    def del1(x: String, v: String): String =
      s"if(length($x) < 1, array(), transform(sequence(1, length($x)), " +
        s"$v -> concat(substr($x, 1, $v - 1), " +
        s"substr($x, $v + 1, length($x)))))"
    maxEdits match {
      case 1 =>
        s"array_distinct(concat(array($src), ${del1(src, "i")}))"
      case 2 =>
        s"array_distinct(concat(array($src), ${del1(src, "i")}, " +
          s"flatten(transform(${del1(src, "i")}, s -> ${del1("s", "j")}))))"
      case n => throw new IllegalArgumentException(
        s"maxEdits must be 1 or 2, got $n")
    }
  }

  /** (name → sorted member ids) of a non-null-name relation. */
  private[ops] def famOf(rel: DataFrame, idCol: String,
                    nameCol: String): DataFrame =
    rel.where(col(nameCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(nameCol).as("name"))
      .groupBy(col("name"))
      .agg(sort_array(collect_list(col("id"))).as("members"))

  /** DISTINCT-NAME matched pairs (na < nb, dist ≤ τ) — the collapsed
    * core every fuzzy consumer derives from (pair expansion for the
    * join surface, rep-level CC for the cluster surface). */
  private[ops] def nameMatches(s: SparkSession, fam: DataFrame,
                          maxEdits: Int): DataFrame = {
    val keys = fam.select(col("name"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("name"),
        explode(expr(delKeysExpr("name", maxEdits))).as("k"))
    keys
      .join(keys.select(col("name").as("nb"), col("k")), "k")
      .where(col("name") < col("nb"))
      .select(col("name").as("na"), col("nb"))
      .distinct()
      .where(levenshtein(col("na"), col("nb")) <= maxEdits)
  }

  /** Edit-distance ≤ τ self-join of a (id, name) relation. Output:
    * one row per unordered id pair, id-ordered, with both names and
    * the exact distance. Null names never match (both engines'
    * levenshtein(NULL) is NULL → filtered). The seam that runs q196's
    * famOf → nameMatches → expandNamePairs chain on any relation and
    * τ, for FuzzySpec's brute-force checks. */
  private[graft] def editDistanceJoin(s: SparkSession, rel: DataFrame,
                                     idCol: String, nameCol: String,
                                     maxEdits: Int = MaxEdits): DataFrame = {
    val fam = famOf(rel, idCol, nameCol)
    val matched = nameMatches(s, fam, maxEdits)
    expandNamePairs(matched, fam).orderBy("id_a", "id_b")
  }

  /** Member-pair expansion of name-level matches — a view, never a
    * stored relation (output complexity on clone corpora; see
    * [[customerFamZone]]). */
  private[ops] def expandNamePairs(matched: DataFrame,
                                   fam: DataFrame): DataFrame = {
    // cross-name expansion: every member pair inherits the name
    // pair's distance; ids normalize to (min, max) WITH their names
    val cross = matched
      .join(fam.select(col("name").as("na"), col("members").as("ma")),
        "na")
      .join(fam.select(col("name").as("nb"), col("members").as("mb")),
        "nb")
      .select(col("na"), col("nb"),
        explode(col("ma")).as("ka"), col("mb"),
        levenshtein(col("na"), col("nb")).cast("long").as("dist"))
      .select(col("na"), col("nb"), col("ka"),
        explode(col("mb")).as("kb"), col("dist"))
      .select(
        when(col("ka") < col("kb"), col("ka")).otherwise(col("kb"))
          .as("id_a"),
        when(col("ka") < col("kb"), col("kb")).otherwise(col("ka"))
          .as("id_b"),
        when(col("ka") < col("kb"), col("na")).otherwise(col("nb"))
          .as("name_a"),
        when(col("ka") < col("kb"), col("nb")).otherwise(col("na"))
          .as("name_b"),
        col("dist"))
    // within-name expansion: exact duplicates pair at distance 0
    val within = fam.where(size(col("members")) > 1)
      .select(col("name"), explode(expr(
        """flatten(transform(sequence(0, size(members) - 2), i ->
          |  transform(sequence(i + 1, size(members) - 1), j ->
          |    struct(members[i] AS id_a, members[j] AS id_b))))
          |""".stripMargin)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("name").as("name_a"), col("name").as("name_b"),
        lit(0L).as("dist"))
    cross.unionByName(within)
  }

  /** Delta-mode edit-distance join: NEW batch rows against the
    * standing corpus only — incremental record linkage (the q115
    * delta-near-dedup discipline: intra-corpus pairs are never
    * generated, so an ingest batch costs O(|batch|·len^τ) keys, not
    * a corpus re-pairing). Orientation is preserved (batch_key,
    * corpus_key); identical names across the boundary surface at
    * distance 0. */
  def deltaEditDistanceJoin(s: SparkSession, corpus: DataFrame,
                            batch: DataFrame, idCol: String,
                            nameCol: String,
                            maxEdits: Int = MaxEdits): DataFrame = {
    def fam(rel: DataFrame) = rel.where(col(nameCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(nameCol).as("name"))
      .groupBy(col("name"))
      .agg(sort_array(collect_list(col("id"))).as("members"))
    def keys(f: DataFrame) = f.select(col("name"))
      // same round-robin spread as nameMatches (r15): the fam
      // aggregate's output exchange AQE-coalesces to one task on its
      // bytes, which serialized the del-key explode + blocking join +
      // levenshtein verify through a single core (Probe time: two
      // 0.5 s single-task stages in q200)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("name"),
        explode(expr(delKeysExpr("name", maxEdits))).as("k"))
    val bf = fam(batch)
    val cf = fam(corpus)
    val cand = keys(bf).select(col("name").as("nb"), col("k"))
      .join(keys(cf).select(col("name").as("nc"), col("k")), "k")
      .select(col("nb"), col("nc"))
      .distinct()
    cand.where(levenshtein(col("nb"), col("nc")) <= maxEdits)
      .join(bf.select(col("name").as("nb"), col("members").as("mb")),
        "nb")
      .join(cf.select(col("name").as("nc"), col("members").as("mc")),
        "nc")
      .select(col("nb"), col("nc"),
        explode(col("mb")).as("batch_key"), col("mc"),
        levenshtein(col("nb"), col("nc")).cast("long").as("dist"))
      .select(col("nb").as("name_batch"), col("nc").as("name_corpus"),
        col("batch_key"), explode(col("mc")).as("corpus_key"),
        col("dist"))
      .select(col("batch_key"), col("corpus_key"), col("name_batch"),
        col("name_corpus"), col("dist"))
      .orderBy("batch_key", "corpus_key")
  }

  /** q196: edit-distance ≤ 1 self-join on customer names — the
    * near-identical-key report (sequential zero-padded TPC-H names
    * make a dense one-typo pair space, a worst case the blocking
    * must absorb). */
  /** Memoized NAME-LEVEL relations (the round-9 rep-level rule
    * applied to the fuzzy family): name families and distinct-name
    * matches are content-bounded, while the member-pair expansion is
    * OUTPUT complexity — on the sf10 clone corpus (~40 one-typo
    * partners per name by the zero-padded-name construction × 100²
    * clone pairs each) it is ~3·10⁹ name-carrying rows, which must
    * never be stored. q196 expands lazily; q208 reads the name
    * matches directly. */
  private[ops] def customerFamZone(s: SparkSession,
                                   dir: String): DataFrame =
    graft.util.Scratch.memo(s, "fuzzy-fams", s"fuzzy-fams:$dir")(
      famOf(Tables.load(s, dir, "customer"), "c_custkey", "c_name"))

  private[graft] def customerNameMatches(s: SparkSession,
                                         dir: String): DataFrame =
    graft.util.Scratch.memo(s, "fuzzy-name-pairs",
      s"fuzzy-name-pairs:$dir")(
      nameMatches(s, customerFamZone(s, dir), MaxEdits))

  /** The doc-level customer pair relation — a LAZY expansion view
    * over the two memoized name-level zones (see there); never
    * materialized. */
  private[graft] def customerPairZone(s: SparkSession,
                                      dir: String): DataFrame =
    expandNamePairs(customerNameMatches(s, dir), customerFamZone(s, dir))

  def fuzzyNameJoin(s: SparkSession, dir: String): DataFrame =
    customerPairZone(s, dir)
      .withColumnRenamed("id_a", "custkey_a")
      .withColumnRenamed("id_b", "custkey_b")
      .orderBy("custkey_a", "custkey_b")

  /** q200: incremental record linkage — the 1-in-20 customer slice
    * as the arriving batch, the rest as the standing corpus. */
  def fuzzyDeltaJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
    deltaEditDistanceJoin(s,
      cust.where(col("c_custkey") % 20 =!= 0),
      cust.where(col("c_custkey") % 20 === 0),
      "c_custkey", "c_name", MaxEdits)
  }

  /** q201: fuzzy ENTITY clusters — the q98 dedup arc on the fuzzy
    * pair graph: edit-distance pairs over part names (exact
    * duplicates at distance 0, one-typo variants at 1) fold into
    * connected components with a min-id canonical record per
    * entity. Same star-contraction CC operator, same survivor
    * contract, same recursive-CTE oracle closure as every cluster
    * family (q98/q126/q167/q193). */
  def fuzzyClusters(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(s, dir, "part")
      .select(col("p_partkey").cast("long").as("p_partkey"),
        col("p_name"))
    // CC runs at the COLLAPSED name level (rep = min member id per
    // name): the member-level pair expansion is pure output surface
    // (q196's job) and would feed CC O(Σ|fam_a|·|fam_b|) edges —
    // measured 8.9 s at sf0.1 vs sub-second on reps, identical
    // labels (min over component reps = min over all members because
    // each rep IS its family minimum; same-name members fold via the
    // name → rep mapping, no distance-0 edges needed)
    val fam = famOf(part, "p_partkey", "p_name")
    val reps = fam.select(col("name"),
      element_at(col("members"), 1).as("rep"))
    val edges = nameMatches(s, fam, MaxEdits)
      .join(reps.select(col("name").as("na"), col("rep").as("a")), "na")
      .join(reps.select(col("name").as("nb"), col("rep").as("b")), "nb")
      .select(col("a"), col("b"))
    val labels = graft.dedup.Dedup.connectedComponents(edges)
    part
      .join(reps.select(col("name").as("p_name"), col("rep")),
        "p_name")
      .join(labels, col("rep") === labels("id"), "left")
      .select(col("p_partkey"), col("p_name"),
        coalesce(col("label"), col("rep")).as("entity_id"))
      .withColumn("canonical", col("p_partkey") === col("entity_id"))
      .orderBy("p_partkey")
  }

  lazy val records: Seq[Query] = Seq(
    // brute force: the blocking must be invisible
    Query("q196_fuzzy_name_join", fuzzyNameJoin(_, _),
      s"""SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
         |  a.c_name AS name_a, b.c_name AS name_b,
         |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
         |FROM customer a JOIN customer b
         |  ON a.c_custkey < b.c_custkey
         |WHERE levenshtein(a.c_name, b.c_name) <= $MaxEdits
         |ORDER BY custkey_a, custkey_b
         |""".stripMargin),
    Query("q200_fuzzy_delta_join", fuzzyDeltaJoin(_, _),
      s"""SELECT b.c_custkey AS batch_key, c.c_custkey AS corpus_key,
         |  b.c_name AS name_batch, c.c_name AS name_corpus,
         |  CAST(levenshtein(b.c_name, c.c_name) AS BIGINT) AS dist
         |FROM customer b JOIN customer c
         |  ON b.c_custkey % 20 = 0 AND c.c_custkey % 20 <> 0
         |WHERE levenshtein(b.c_name, c.c_name) <= $MaxEdits
         |ORDER BY batch_key, corpus_key
         |""".stripMargin),
    // brute-force pair graph closed with the q98-family recursive
    // CTE; min-id canonical per entity
    Query("q201_fuzzy_clusters", fuzzyClusters(_, _),
      s"""WITH RECURSIVE p AS (
         |  SELECT a.p_partkey AS i, b.p_partkey AS j
         |  FROM part a JOIN part b ON a.p_partkey < b.p_partkey
         |  WHERE levenshtein(a.p_name, b.p_name) <= $MaxEdits),
         |e(src, dst) AS (
         |  SELECT i, j FROM p UNION ALL SELECT j, i FROM p),
         |reach(id, label) AS (
         |  SELECT p_partkey, p_partkey FROM part
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.id),
         |lab AS (
         |  SELECT id, min(label) AS entity_id FROM reach GROUP BY id)
         |SELECT p.p_partkey, p.p_name, lab.entity_id,
         |  (p.p_partkey = lab.entity_id) AS canonical
         |FROM part p JOIN lab ON lab.id = p.p_partkey
         |ORDER BY p.p_partkey
         |""".stripMargin))
}
