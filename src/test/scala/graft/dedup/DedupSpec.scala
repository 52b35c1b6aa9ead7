package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Ground-truth checks for the probabilistic dedup operators: a
  * driver-side brute-force over the sf0.001 corpus (500 docs, 125k
  * pairs — fine at test scale) is the truth set; MinHash-LSH and
  * SimHash are measured against it. */
class DedupSpec extends SparkSpec {

  private lazy val docs: Map[Long, String] =
    spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** CC through both branches — the driver union-find and the
    * contraction loop (driver bound 0) — which must return the same
    * (id, label) rows under the same schema; the labels as a map. */
  private def ccBothWays(edges: DataFrame): Map[Long, Long] = {
    val driver = Dedup.connectedComponents(edges)
    val loop = Dedup.connectedComponents(edges, 0)
    assert(driver.queryExecution.analyzed.isInstanceOf[LocalRelation],
      "a small graph must take the driver branch")
    assert(driver.schema === loop.schema)
    val rows = driver.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.sorted.toSeq ===
      loop.collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq)
    rows.toMap
  }

  private def shingle(text: String, n: Int = 3): Set[String] = {
    val w = text.trim.split("\\s+")
    if (w.length < n) Set(w.mkString(" "))
    else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
  }

  private lazy val truePairs: Set[(Long, Long)] = {
    val ids = docs.keys.toArray.sorted
    val sh = docs.map { case (k, v) => k -> shingle(v) }
    (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      a = sh(ids(i)); b = sh(ids(j))
      inter = (a & b).size
      if inter.toDouble / (a.size + b.size - inter) >= 0.8
    } yield (ids(i), ids(j))).toSet
  }

  test("minhash-lsh finds every true near-dup pair (J >= 0.8)") {
    val found = Dedup.minhashLshPairs(spark, sf()).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(truePairs.nonEmpty, "fixture should contain planted near-dups")
    assert((truePairs -- found).isEmpty,
      s"missed pairs: ${(truePairs -- found).take(5)}")
  }

  test("q314 rep-level pairs = q37 pairs restricted to digest " +
    "survivors, and clones collapse before the LSH leg") {
    import spark.implicits._
    // clone-heavy fixture: every doc gets a verbatim twin (shifted
    // ids) — the production spelling must signature only the
    // ORIGINALS (reps = min doc_id per distinct text)
    val dir = SparkSpec.tempDir("graft-reppairs-").toString
    val base = spark.read.parquet(s"${sf()}/documents.parquet")
      .select($"doc_id", $"text", $"source")
    base.unionByName(
        base.select(($"doc_id" + 1000000L).as("doc_id"), $"text",
          $"source"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val repPairs = Dedup.minhashRepPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // collapse-then-LSH ≡ LSH over the explicitly collapsed corpus
    // (base may itself hold exact dups, so collapse THAT too)
    val dir2 = SparkSpec.tempDir("graft-repbase-").toString
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"text")).orderBy($"doc_id")
    base.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"doc_id", $"text", $"source")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val expected = Dedup.minhashLshPairs(spark, dir2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repPairs == expected,
      s"rep pairs drifted from LSH-over-collapsed: " +
        s"extra=${(repPairs -- expected).take(3)} " +
        s"missing=${(expected -- repPairs).take(3)}")
    // and no clone id (the +1e6 twins) ever reaches the output
    assert(repPairs.forall { case (a, b) => a < 1000000L && b < 1000000L })
  }

  test("q315 rep-level simhash pairs = q38 pairs over the collapsed " +
    "corpus, and clones collapse before the signature leg") {
    import spark.implicits._
    // same clone-doubled fixture discipline as the q314 pin: SimHash
    // is a pure per-doc function, so collapse-then-hash must equal
    // hash-over-the-explicitly-collapsed corpus exactly
    val dir = SparkSpec.tempDir("graft-shreppairs-").toString
    val base = spark.read.parquet(s"${sf()}/documents.parquet")
      .select($"doc_id", $"text", $"source")
    base.unionByName(
        base.select(($"doc_id" + 1000000L).as("doc_id"), $"text",
          $"source"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val repPairs = Dedup.simhashRepPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir2 = SparkSpec.tempDir("graft-shrepbase-").toString
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"text")).orderBy($"doc_id")
    base.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"doc_id", $"text", $"source")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val expected = Dedup.simhashPairs(spark, dir2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repPairs == expected,
      s"rep pairs drifted from simhash-over-collapsed: " +
        s"extra=${(repPairs -- expected).take(3)} " +
        s"missing=${(expected -- repPairs).take(3)}")
    assert(repPairs.forall { case (a, b) => a < 1000000L && b < 1000000L })
  }

  test("collapse identity: the q37/q38 gate spellings (collapse → " +
    "rep LSH → expand) equal the direct corpus-banded spellings") {
    // the identity the gate queries ride (round-14): signatures are
    // pure per-doc functions of text, so collapse-then-band-then-
    // expand must reproduce the direct spelling EXACTLY — candidate
    // collisions included — on any corpus (sf() has both clones and
    // distinct docs)
    val directM = Dedup.minhashLshPairs(spark, sf(), hash = Md5Prefix)
      .collect().map(_.toSeq).toSet
    val collapsedM = Dedup.minhashCollapsedPairs(spark, sf(), hash = Md5Prefix)
      .collect().map(_.toSeq).toSet
    assert(collapsedM == directM,
      s"q37 collapse identity broken: " +
        s"extra=${(collapsedM -- directM).take(3)} " +
        s"missing=${(directM -- collapsedM).take(3)}")
    val directS = Dedup.simhashPairs(spark, sf(), hash = Md5Prefix)
      .collect().map(_.toSeq).toSet
    val collapsedS = Dedup.simhashCollapsedPairs(spark, sf(), hash = Md5Prefix)
      .collect().map(_.toSeq).toSet
    assert(collapsedS == directS,
      s"q38 collapse identity broken: " +
        s"extra=${(collapsedS -- directS).take(3)} " +
        s"missing=${(directS -- collapsedS).take(3)}")
  }

  test("q38 shape gate: grid (at-scale) and simple (small) sub-cap " +
    "expansions are output-identical") {
    // round-14: below the size gate the simhash leg takes a direct
    // (band, bval) self-join; forcing the gate low selects the
    // block-grid + zone + first-band dedup at-scale machinery. Both
    // must emit the same post-threshold pair set.
    val simple = Dedup.simhashPairs(spark, sf()).collect()
      .map(_.toSeq).toSet
    spark.conf.set(graft.dedup.PairGrid.MemoMinBytesConf, "0")
    try {
      val grid = Dedup.simhashPairs(spark, sf()).collect()
        .map(_.toSeq).toSet
      assert(grid == simple,
        s"shapes diverged: extra=${(grid -- simple).take(3)} " +
          s"missing=${(simple -- grid).take(3)}")
    } finally spark.conf.unset(graft.dedup.PairGrid.MemoMinBytesConf)
  }

  test("md5-prefix gate hash keeps full minhash-lsh recall") {
    // the oracle-checkable hash must not just agree with DuckDB — it
    // must still FIND the planted near-dups (a broken permutation
    // family would agree cross-engine while flooding or dropping pairs)
    val found = Dedup.minhashLshPairs(spark, sf(), hash = Md5Prefix).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert((truePairs -- found).isEmpty,
      s"missed pairs under Md5Prefix: ${(truePairs -- found).take(5)}")
  }

  test("q138 leakage split: clusters never straddle; singletons = q102") {
    val split = Dedup.leakageSafeSplit(spark, sf()).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[String]("split")))
    // the guarantee: every member of a cluster is in ONE split — a
    // near-dup of a test doc can never be trained on
    split.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $c straddles splits: ${members.take(5).toSeq}")
    }
    // on singleton clusters the assignment reduces exactly to q102's
    // doc-id hash split — adding near-dups moves only their cluster
    val q102 = graft.ops.Sampling.hashSplit(spark, sf()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val singles = split.filter { case (d, c, _) => d == c }
    assert(singles.nonEmpty)
    // members of multi-doc clusters whose label = own id are the
    // cluster roots; restrict to TRUE singletons (cluster size 1)
    val bySize = split.groupBy(_._2).view.mapValues(_.length).toMap
    singles.filter(t => bySize(t._2) == 1).foreach { case (d, _, sp) =>
      assert(sp == q102(d), s"singleton $d diverged from q102")
    }
  }

  test("simhash pair set agrees with brute-force truth") {
    val found = Dedup.simhashPairs(spark, sf()).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert((truePairs -- found).isEmpty,
      s"missed: ${(truePairs -- found).take(5)}")
    assert((found -- truePairs).isEmpty,
      s"false positives: ${(found -- truePairs).take(5)}")
  }

  test("exact dedup groups: every group count is >= 1 and ids are minimal") {
    val rows = Dedup.exactGroups(spark, sf()).collect()
    assert(rows.map(_.getAs[Long]("n")).forall(_ >= 1))
    assert(rows.length == docs.size) // corpus has no exact dups
  }

  test("oversized bucket expands as hub-star, not silent drop") {
    import spark.implicits._
    // 12 identical docs + 2 distinct ones; with maxBucket=5 the
    // identical cluster exceeds the cap in every band
    val dir = SparkSpec.tempDir("star_docs").toString
    val docs = ((0L until 12L).map(i =>
      (i, "the same exact document text repeated for cluster members", "a")) ++
      Seq((20L, "an entirely different document about something else", "a"),
        (21L, "yet another unrelated piece of text entirely here now", "a")))
      .toDF("doc_id", "text", "source")
    docs.write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairs = Dedup.minhashLshPairs(spark, dir, maxBucket = 5).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    // star + chain: linear pair count (≤ 2·B per band, far below the
    // 66 of full expansion), every pair inside the true cluster, and
    // the whole cluster connected (single component via union-find)
    assert(pairs.nonEmpty && pairs.size <= 22, pairs.toString)
    assert(pairs.forall { case (a, b) => a < b && a <= 11 && b <= 11 })
    val parent = scala.collection.mutable.Map((0L to 11L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L to 11L).map(find).toSet.size == 1, "cluster not connected")
  }

  test("simhash oversized bucket: star+chain bounds a mass-duplicate corpus") {
    import spark.implicits._
    // 5000 identical docs + 2 distinct: every band collapses the clones
    // into ONE bucket value. Uncapped, that is ~12.5M candidate pairs
    // per band; with maxBucket the expansion is star+chain — linear.
    val dir = SparkSpec.tempDir("simhash_mass").toString
    val docs = ((0L until 5000L).map(i =>
      (i, "the same boilerplate paragraph stamped on every mirror page", "a")) ++
      Seq((9000L, "an entirely different document about something else", "a"),
        (9001L, "yet another unrelated piece of text entirely here now", "a")))
      .toDF("doc_id", "text", "source")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.simhashPairs(spark, dir, maxBucket = 100).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    // identical signatures ⇒ every band yields the SAME star+chain set:
    // ≤ 2·B distinct pairs total, not 12.5M
    assert(pairs.size <= 2 * 5000, s"pair count ${pairs.size} not bounded")
    assert(pairs.forall { case (a, b) => a < b && b < 5000L })
    // the clone cluster stays one connected component
    val parent = scala.collection.mutable.Map((0L until 5000L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((0L until 5000L).map(find).toSet.size == 1, "cluster not connected")
  }

  test("simhash wide-band mode (8x8) still finds every planted near-dup") {
    // the 100 TB selectivity dial: 8-bit bands guarantee hamming ≤ 7
    // recall; planted near-dups in this corpus sit at hamming 0-10, so
    // compare against the 4-bit truth instead of asserting exhaustive
    // recall — wide mode must find every pair the guarantee covers.
    val narrow = Dedup.simhashPairs(spark, sf()).collect()
      .map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Int]("hamming"))).toMap
    val wide = Dedup.simhashPairs(spark, sf(), bandBits = 8).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val guaranteed = narrow.filter(_._2 <= 7).keySet
    assert(guaranteed.nonEmpty, "fixture should plant hamming<=7 pairs")
    assert((guaranteed -- wide).isEmpty,
      s"wide bands missed guaranteed pairs: ${(guaranteed -- wide).take(5)}")
    assert(wide.subsetOf(narrow.keySet), "wide mode invented pairs")
  }

  test("star-edge labels ≡ connected components of the EXPANDED pair " +
    "relation (the round-9 rep-level restructure equivalence)") {
    // the clustering family iterates jaccardStarEdges (linear) on the
    // claim that its components — and min-id labels — are identical
    // to CC over the quadratic expanded pairs; verify the claim
    // directly against the expanded view at gate scale
    val expanded = Dedup.jaccardPairsUnordered(spark, sf())
      .select(col("id1").as("a"), col("id2").as("b"))
    val expLabels = Dedup.connectedComponents(expanded)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val starLabels = Dedup.connectedComponents(
      Dedup.jaccardStarEdges(spark, sf()))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // star edges additionally cover multi-member families with no
    // cross pair — every EXPANDED participant must agree exactly
    assert(expLabels.nonEmpty)
    expLabels.foreach { case (id, lab) =>
      assert(starLabels.get(id).contains(lab),
        s"doc $id: expanded label $lab, star ${starLabels.get(id)}")
    }
    // and any extra star-only participant is a within-family doc
    // whose label is its own family rep (jaccard-1.0 component)
    val mem = Dedup.jaccardMembers(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (starLabels.keySet -- expLabels.keySet).foreach { id =>
      assert(starLabels(id) == mem(id),
        s"star-only doc $id labeled ${starLabels(id)} != rep ${mem(id)}")
    }
  }

  test("q36 guard: jaccard threshold filter is NOT pushed into the join") {
    // The threshold filter computes array_intersect; pushed into the
    // join condition it would run BEFORE the cheap size guards and
    // 2-3x per candidate (see the nondeterminism barrier in
    // jaccardPairs). This pins the plan shape so an optimizer upgrade
    // that folds `rand() * 0` cannot silently reintroduce the
    // regression.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    // pin the DERIVATION plan — the q36 query itself scans the
    // memoized pair zone, so the pipeline shape lives here
    val lp = Dedup.jaccardPairsUnordered(spark, sf())
      .queryExecution.optimizedPlan
    val joinConds = lp.collect {
      case j: Join => j.condition.map(_.sql).getOrElse("") }
    assert(joinConds.nonEmpty, "expected a join in the q36 plan")
    assert(joinConds.forall(c => !c.toLowerCase.contains("array_intersect")),
      s"intersection leaked into a join condition:\n${joinConds.mkString("\n")}")
    assert(lp.collect { case f: Filter => f }.nonEmpty,
      "threshold filter vanished from the plan")
  }

  test("minhash estimate tracks true jaccard within 0.15") {
    val est = Dedup.minhashLshPairs(spark, sf()).collect()
      .map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("est_jaccard"))).toMap
    est.foreach { case ((a, b), e) =>
      val sa = shingle(docs(a)); val sb = shingle(docs(b))
      val inter = (sa & sb).size
      val truth = inter.toDouble / (sa.size + sb.size - inter)
      assert(math.abs(truth - e) <= 0.15, s"pair ($a,$b): est $e true $truth")
    }
  }
  test("connectedComponents: shuffled path (worst case for label prop)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((0L until 200L).toVector)
    val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val labels = ccBothWays(edges)
    assert(labels.size == 200)
    assert(labels.values.forall(_ == 0L), "one component rooted at min id")
  }

  test("connectedComponents: a gate-scale graph launches no contraction round") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val rnd = new scala.util.Random(5)
    val ids = rnd.shuffle((0L until 1000L).toVector)
    val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    // a contraction round joins each node's star minimum back onto its
    // edges; rooting, counting and collecting the edge set join nothing
    def joinPlans(events: List[SparkListenerEvent]) =
      events.collect { case e: SparkListenerSQLExecutionStart
        if e.physicalPlanDescription.contains("Join") => e.description }
    def jobs(events: List[SparkListenerEvent]) =
      events.count(_.isInstanceOf[SparkListenerJobStart])
    val (_, driver) = eventsDuring(Dedup.connectedComponents(edges).collect())
    val (_, loop) = eventsDuring(Dedup.connectedComponents(edges, 0).collect())
    assert(joinPlans(loop).nonEmpty, "the forced loop must show its rounds")
    assert(joinPlans(driver).isEmpty,
      s"contraction plans on a gate-scale graph: ${joinPlans(driver)}")
    assert(jobs(driver) < jobs(loop), s"jobs ${jobs(driver)} vs ${jobs(loop)}")
  }

  test("connectedComponents: 100k-spoke star — no window gather, hub converges") {
    import spark.implicits._
    // A power-law hub: the adversarial shape mass near-duplication
    // produces. With the old Window.partitionBy(u) min, all 100k hub
    // rows funneled through ONE task per round; the groupBy spelling
    // partial-aggregates them map-side.
    val n = 100000L
    val edges = spark.range(1L, n + 1L)
      .select(lit(5L).as("a"), (col("id") + 10L).as("b"))
    // plan pin: a single contraction round must contain no WindowExec
    // (the un-splittable per-key gather) — only partial-agg + joins
    val round = Dedup.starContractRound(
      edges.select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b")))
    val physical = round.queryExecution.executedPlan.toString
    assert(!physical.contains("Window"),
      s"contraction round must not use WindowExec:\n$physical")
    // the loop, forced: this case exists to test its hub convergence
    val labels = Dedup.connectedComponents(edges, 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n + 1, "hub + every spoke labeled")
    assert(labels.values.forall(_ == 5L), "all rooted at the hub id (min)")
  }

  test("applyEdgeBatch: sequential folds equal full recompute at every step") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val n = 120
    val edges = Seq.fill(140)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2)
    // fold in 4 random batches over a label table seeded with all nodes
    val batches = edges.zipWithIndex.groupMap(_._2 % 4)(_._1)
      .toSeq.sortBy(_._1).map(_._2)
    var labels = (0L until n.toLong).map(i => (i, i)).toDF("id", "label")
    var seen = Seq.empty[(Long, Long)]
    // every fold runs the meta graph through both CC branches, and the
    // next fold continues from each branch in turn
    for ((batch, i) <- batches.zipWithIndex) {
      val driver = Dedup.applyEdgeBatch(labels, batch.toDF("a", "b"))
        .localCheckpoint() // root each fold like a real ingest loop
      val loop = Dedup.applyEdgeBatch(labels, batch.toDF("a", "b"), 0)
        .localCheckpoint()
      assert(driver.schema === loop.schema)
      val rows = driver.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.sorted.toSeq ===
        loop.collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq)
      val got = rows.toMap
      labels = if (i % 2 == 0) driver else loop
      seen ++= batch
      // ground truth: full CC over every edge folded so far
      val full = ccBothWays(seen.toDF("a", "b"))
      val touched = seen.flatMap(p => Seq(p._1, p._2)).toSet
      touched.foreach { x =>
        assert(got(x) == full(x),
          s"node $x after ${seen.size} edges: ${got(x)} vs ${full(x)}")
      }
      // untouched nodes keep their own label
      ((0L until n.toLong).toSet -- touched).foreach(x => assert(got(x) == x))
    }
  }

  test("connectedComponents: random graphs match union-find ground truth") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 300
    val pairs = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2)
    // driver-side union-find truth
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val compMin = (0 until n).groupBy(find).flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }
    val got = ccBothWays(pairs.toDF("a", "b"))
      .map { case (k, v) => k.toInt -> v.toInt }
    // every edge-connected node must carry its component minimum
    val touched = pairs.flatMap(p => Seq(p._1.toInt, p._2.toInt)).toSet
    touched.foreach { x =>
      assert(got.get(x).contains(compMin(x)), s"node $x: ${got.get(x)} vs ${compMin(x)}")
    }
    assert(got.keySet == touched, "labels exactly the edge-endpoint set")
  }

  test("q115: delta pairs are exactly the mixed-membership LSH pairs") {
    // ground truth: the FULL q37 pair set, restricted to pairs that
    // cross the corpus/delta boundary, oriented (corpus, delta)
    def isDelta(id: Long): Boolean = Math.floorMod(id, 10L) >= 8
    val full = Dedup.minhashLshPairs(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mixed = full
      .filter { case (a, b) => isDelta(a) != isDelta(b) }
      .map { case (a, b) => if (!isDelta(a)) (a, b) else (b, a) }
    val delta = Dedup.minhashDeltaPairs(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta == mixed,
      s"delta-only=${delta -- mixed} missing=${mixed -- delta}")
    // and never an intra-corpus or intra-delta pair
    delta.foreach { case (c, d) =>
      assert(!isDelta(c) && isDelta(d), s"pair ($c, $d) orientation")
    }
  }

  test("q115: mass-duplicate corpus stays bounded via the corpus-side cap") {
    // 4k corpus clones + 200 delta clones of one text land in ONE
    // bucket per band; without the cap that is 4k × 200 pairs per
    // band. With it, each delta doc pairs with ≤ maxBucket corpus
    // reps — and every delta doc still gets its is-dup answer.
    import spark.implicits._
    val tmp = SparkSpec.tempDir("delta_mass").toString
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    (0L until 4200L).map { i =>
      val id = if (i < 4000) i * 10 else i * 10 + 8 // corpus / delta ids
      (id, text, "en", "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.minhashDeltaPairs(spark, tmp, maxBucket = 100).cache()
    val perDelta = out.groupBy("delta_id").count()
    assert(perDelta.count() == 200, "every delta doc scored")
    // pair volume bounded by cap, not corpus size
    assert(out.count() <= 200L * 100L)
    out.unpersist()
  }

  test("q161 winnowing: a shared run of w+k-1 tokens is always caught") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("winnow_docs").toString
    // the selection guarantee: any shared run of ≥ win+k−1 = 8 tokens
    // yields 4 consecutive shared grams — one FULL window whose min is
    // the same VALUE in both docs, so a fingerprint must match
    val run = (0 until 8).map(i => s"r$i").mkString(" ")
    val a = s"alpha unique tokens one two $run tail bits here"
    val b = s"totally different prefix words $run and other suffix"
    val c = "no overlap at all just distinct vocabulary everywhere now ok"
    Seq((1L, a, "s"), (2L, b, "s"), (3L, c, "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.winnowPairs(spark, dir, minShared = 1).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(pairs.contains((1L, 2L)), s"guaranteed pair missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"false pair involving the disjoint doc: $pairs")
  }

  test("q182 histogram is the exact fold of the q98 labels") {
    val labels = Dedup.dedupClusters(spark, sf()).collect()
      .groupBy(_.getAs[Long]("cluster_id")).map(_._2.length.toLong)
    val expected = labels.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val h = Dedup.clusterHistogram(spark, sf()).collect()
    val got = h.map(r => r.getAs[Long]("cluster_size") ->
      r.getAs[Long]("n_clusters")).toMap
    assert(got == expected, s"histogram drifted: $got vs $expected")
    val nDocs = labels.sum
    h.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
      assert(r.getAs[Long]("dup_docs") == nDocs - labels.size)
      val ratio = r.getAs[Double]("dedup_ratio")
      assert(ratio >= 0.0 && ratio < 1.0)
    }
  }

  test("q207: the survivor is its cluster's quality maximum, one per cluster") {
    val rows = Dedup.bestSurvivor(spark, sf()).collect()
    assert(rows.nonEmpty)
    // exactly one keeper per cluster; every keeper dominates its
    // cluster under (quality DESC, doc_id) — checked independently
    rows.groupBy(_.getAs[Long]("cluster_id")).foreach { case (c, rs) =>
      val keepers = rs.filter(_.getAs[Boolean]("keep_best"))
      assert(keepers.length == 1, s"cluster $c has ${keepers.length}")
      val best = rs.minBy(r =>
        (-r.getAs[Long]("quality_sum"), r.getAs[Long]("doc_id")))
      assert(keepers.head.getAs[Long]("doc_id") ==
        best.getAs[Long]("doc_id"), s"cluster $c keeper drifted")
      rs.foreach(r => assert(r.getAs[Long]("survivor_id") ==
        best.getAs[Long]("doc_id")))
    }
    // same partition as q98: cluster ids agree row for row
    val q98 = Dedup.dedupClusters(spark, sf()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    rows.foreach(r => assert(
      q98(r.getAs[Long]("doc_id")) == r.getAs[Long]("cluster_id")))
  }
  test("q302 witness invariants: distinct LSH pairs, n_hit bounded, " +
    "recall never exceeds 1") {
    val r = Dedup.minhashWitness(spark, sf()).collect()
    assert(r.length == 1)
    val row = r.head
    val nExact = row.getAs[Long]("n_exact")
    val nLsh = row.getAs[Long]("n_lsh")
    val nHit = row.getAs[Long]("n_hit")
    // each hit is a DISTINCT lsh pair that is also an exact pair, so
    // it can exceed neither side — the defensive .distinct() inside
    // the witness is what makes this hold even if minhashLshPairs
    // ever grows a duplicate-emitting path (round-9 ADVICE)
    assert(nHit <= nLsh, s"n_hit $nHit > n_lsh $nLsh")
    assert(nHit <= nExact, s"n_hit $nHit > n_exact $nExact")
    val rec = row.getAs[Double]("recall")
    assert(rec >= 0.0 && rec <= 1.0, s"recall $rec out of [0,1]")
    // the 100 TB drop as API (round-11 uniformity): witness-free mode
    // keeps only the approximate side — same n_lsh, no exact columns
    val free = Dedup.minhashWitness(spark, sf(), withWitness = false)
    assert(free.columns.toSeq == Seq("n_lsh"))
    assert(free.collect().head.getAs[Long]("n_lsh") == nLsh)
  }

}
