package graft.sim

import graft.SparkSpec

/** Semantic checks for the similarity suite (no SQL oracle exists for
  * these — DuckDB float-fold semantics differ): brute force is the
  * internal ground truth, LSH is measured against it. */
class SimilaritySpec extends SparkSpec {

  test("knn brute: k results per query, ranked by descending cosine") {
    val rows = Similarity.knnBrute(spark, sf(), k = 5).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.foreach { case (_, rs) =>
      assert(rs.length == 5)
      val cos = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
    }
  }

  test("q312: full-width ablation is the identity; half-width recall " +
    "is a real fraction of k") {
    // d = Dim ranks by the SAME dot twice → every query recalls 1.0
    val ident = Similarity.dimAblation(spark, sf(), d = Similarity.Dim)
      .collect()
    assert(ident.nonEmpty)
    assert(ident.forall(_.getAs[Double]("recall_at_k") == 1.0))
    val half = Similarity.dimAblation(spark, sf()).collect()
    assert(half.length == ident.length) // zero-overlap queries emit too
    assert(half.forall { r =>
      val n = r.getAs[Long]("n_overlap")
      n >= 0L && n <= 5L &&
        r.getAs[Double]("recall_at_k") == n.toDouble / 5.0
    })
  }

  test("knn lsh: subset-of-corpus neighbors with usable recall") {
    val brute = Similarity.knnBrute(spark, sf(), k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.knnLsh(spark, sf(), k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // These embeddings are RANDOM unit vectors (no planted clusters) —
    // the hardest case for LSH; on clustered data recall is far higher.
    assert(recall >= 0.25, s"recall $recall")
  }

  test("int8 quantization: bounded reconstruction error, high top-k recall") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dq = Similarity.dequantize(Similarity.quantize(emb))
    // per-component |x - dq| ≤ scale/254 (half a quantization step),
    // with a float-arithmetic epsilon
    val worst = dq.select(max(expr(
      "aggregate(zip_with(embedding, dq_vec, (a, b) -> abs(a - b)), " +
        "CAST(0.0 AS FLOAT), (m, x) -> greatest(m, x)) " +
        "- q_scale / 254.0"))).head().getDouble(0)
    assert(worst <= 1e-6, s"reconstruction error exceeds half-step: $worst")
    // top-k over dequantized vectors preserves the exact ranking almost
    // everywhere (random unit vectors, int8 noise ≪ cosine gaps)
    val exact = Similarity.knnBrute(spark, sf(), k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val qemb = dq.select(col("vec_id"), col("dq_vec").as("embedding"))
    val q = qemb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val approx = qemb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("float_dot", col("embedding"), col("qv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized top-k recall $recall")
  }

  test("near-dup pairs: every emitted pair is above threshold, ordered") {
    val rows = Similarity.nearDupPairs(spark, sf(), threshold = 0.4).collect()
    assert(rows.forall(_.getAs[Double]("cosine") >= 0.4))
    val keys = rows.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    assert(keys.forall { case (a, b) => a < b })
    assert(keys.sameElements(keys.sorted))
  }

  test("scaled near-dup pairs: brute-force recall floor, exact precision") {
    import org.apache.spark.sql.functions._
    // the synthetic corpus tops out below 0.8 cosine, so witness at
    // 0.5 — BELOW the regime the banding is sized for, i.e. a recall
    // floor here is conservative for the high-cosine dedup use
    val thr = 0.5
    val emb = graft.Tables.load(spark, sf("0.1"), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val brute = emb.as("a").join(emb.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        call_function("float_dot",
          col("a.embedding"), col("b.embedding")).as("cosine"))
      .where(col("cosine") >= thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scaled = Similarity.nearDupPairsScaled(spark, sf("0.1"), thr)
      .collect()
    // precision is structural (every pair exact-verified) ...
    assert(scaled.forall(_.getAs[Double]("cosine") >= thr))
    val got = scaled.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute))
    // ... recall is the LSH trade — floor pinned against brute force
    assert(brute.nonEmpty)
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.7, s"scaled-path recall $recall over ${brute.size}")
    // band shape really scales with n
    assert(Similarity.scaledBandShape(200L)._2 == 4)
    assert(Similarity.scaledBandShape(200000L)._2 == 10)
    assert(Similarity.scaledBandShape(1L << 40)._2 == 16)
  }

  test("knn ivf: k ranked results per query with usable recall") {
    val brute = Similarity.knnBrute(spark, sf(), k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.knnIvf(spark, sf(), k = 5).collect()
    val byQuery = ivf.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.values.foreach(rs => assert(rs.length == 5))
    val found = ivf.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & found).size.toDouble / brute.size
    // random vectors: worst case for IVF cell locality; clustered data
    // recalls far higher at the same nProbe
    assert(recall >= 0.2, s"recall $recall")
  }

  test("q143 quantized knn: high recall vs float ranking, exact k") {
    val brute = Similarity.knnBrute(spark, sf(), k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val rows = Similarity.knnQuantized(spark, sf(), k = 5).collect()
    val perQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(perQuery.size == 10 && perQuery.values.forall(_.length == 5))
    val quant = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val recall = (brute & quant).size.toDouble / brute.size
    assert(recall >= 0.9, s"quantized knn top-k recall $recall")
  }

  test("knn ivf exact mode (probe-all) is bit-identical to brute force") {
    // The q53 gate contract: nProbe = nCells makes the candidate set
    // the full corpus, so the result must match q50 exactly — rank,
    // cosine bits and all, not just the id set.
    val brute = Similarity.knnBrute(spark, sf(), k = 5).collect()
    val exact = Similarity.knnIvf(spark, sf(), k = 5,
      nProbe = Similarity.IvfCells).collect()
    assert(exact.sameElements(brute))
  }

  test("signatures are deterministic across sessions") {
    import org.apache.spark.sql.functions.col
    val a = Similarity.knnLsh(spark, sf(), k = 3).collect()
    val b = Similarity.knnLsh(spark, sf(), k = 3).collect()
    assert(a.sameElements(b))
  }

  test("q155 knn graph: every vector an anchor, exact k, q143-consistent") {
    val g = Similarity.knnGraph(spark, sf()).collect()
    val n = graft.Tables.load(spark, sf(), "embeddings").count()
    val per = g.groupBy(_.getAs[Long]("query_id"))
    assert(per.size == n, s"anchors ${per.size} != corpus $n")
    assert(per.values.forall(_.length == Similarity.GraphK))
    // the graph restricted to anchors < 10 IS q143 (same codes, same
    // ranking contract) — rank-for-rank, neighbor and integer dot
    val q143 = Similarity.knnQuantized(spark, sf(), k = Similarity.GraphK)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Long]("qdot")))).toMap
    g.filter(_.getAs[Long]("query_id") < 10).foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))
      assert(q143(key) ==
        ((r.getAs[Long]("neighbor_id"), r.getAs[Long]("qdot"))), s"$key")
    }
  }

  test("banded knn graph: candidates from band equality, usable recall") {
    val exact = Similarity.knnGraph(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val banded = Similarity.knnGraphBanded(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val recall = (exact & banded).size.toDouble / exact.size
    // random unit vectors — the q51 hardest-case bound applies
    assert(recall >= 0.25, s"banded graph recall $recall")
    // k bounds the per-anchor output even through the bucket join
    banded.groupBy(_._1).foreach { case (_, nbs) =>
      assert(nbs.size <= Similarity.GraphK)
    }
    // and the scale path never plans a product join — candidates come
    // from band equality, codes re-attach by id (the exact graph is
    // all-pairs BY DESIGN; this pin is about the banded variant only)
    val plan = Similarity.knnGraphBanded(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      "product join in the banded graph plan:\n" + plan)
  }

  test("q164 domain similarity: full strict-upper matrix, bounded cosines") {
    val rows = Similarity.domainSimilarity(spark, sf()).collect()
    val labels = graft.Tables.load(spark, sf(), "embeddings")
      .select("label").distinct().count()
    assert(rows.length == labels * (labels - 1) / 2,
      s"expected C($labels,2) pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Int]("label_a") < r.getAs[Int]("label_b"))
      val c = r.getAs[Double]("cos_centroid")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"cosine out of range: $r")
      assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
    }
  }

  test("q168 banded witness: bound holds and per-anchor fields are consistent") {
    val rows = Similarity.knnBandedWitness(spark, sf()).collect()
    assert(rows.nonEmpty)
    // the witness contract: the corpus-level recall bound PINNED true
    // (the oracle hash-gates the values; this pins the bound itself)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("recall_ok"),
        s"banded recall ${r.getAs[Double]("recall_overall")} below " +
          s"${Similarity.BandedRecallFloor}")
      val hit = r.getAs[Long]("n_hit")
      val ex = r.getAs[Long]("n_exact")
      assert(hit >= 0 && hit <= ex && ex <= Similarity.GraphK)
      assert(math.abs(r.getAs[Double]("recall") -
        hit.toDouble / ex) < 1e-12)
    }
  }

  test("q198 graph walk: recall floor pinned, results reachable and ranked") {
    val rows = Similarity.graphSearch(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("recall_ok"),
        s"walk recall ${r.getAs[Double]("recall_overall")} below " +
          s"${Similarity.WalkRecallFloor}")
      assert(r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id"),
        "walk returned the query itself")
    }
    // per-query contract: exactly k results, ranks 1..k, scores
    // non-increasing under the rank order
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
        (1 to Similarity.GraphK))
      val scores = sorted.map(_.getAs[Double]("approx_cos")).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // every result lies within WalkRounds hops of the entry set —
    // the walk cannot fabricate unreachable nodes
    val edges = Similarity.knnGraph(spark, sf())
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    // recompute the true reachable set from the SAME entry rule
    import org.apache.spark.sql.functions._
    val entryIds = graft.Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"),
        graft.dedup.Md5Prefix.h(
          concat(lit("walk-entry:"), col("vec_id").cast("string")))
          .as("eh"))
      .orderBy(col("eh"), col("vec_id"))
      .limit(Similarity.WalkEntries)
      .collect().map(_.getLong(0)).toSet
    var reach = entryIds
    (1 to Similarity.WalkRounds).foreach { _ =>
      reach = reach ++ reach.flatMap(n => edges.getOrElse(n, Set.empty))
    }
    rows.foreach { r =>
      assert(reach.contains(r.getAs[Long]("neighbor_id")),
        s"unreachable result ${r.getAs[Long]("neighbor_id")}")
    }
  }

  test("q203 triangles: brute-force equal at spec SF, invariants hold") {
    val rows = Similarity.triangleStats(spark, sf()).collect()
    val global = rows.head.getAs[Long]("global_triangles")
    // each triangle contributes to exactly three nodes
    assert(rows.map(_.getAs[Long]("n_triangles")).sum == 3 * global)
    rows.foreach { r =>
      val c = r.getAs[Double]("clustering")
      assert(c >= 0.0 && c <= 1.0 + 1e-12, s"coefficient out of range: $r")
    }
    // independent brute force over the same symmetrized edge set
    val und = Similarity.knnGraph(spark, sf())
      .select("query_id", "neighbor_id").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val nbrs = und.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = und.toSeq.map { case (a, b) =>
      nbrs(a).intersect(nbrs(b)).count(c => c > b)
    }.sum
    assert(global == brute, s"got $global triangles, brute $brute")
  }

  test("q156 semantic dedup: closure of thresholded graph edges") {
    val labels = Similarity.semanticDedup(spark, sf()).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))
    val byId = labels.map(l => l._1 -> l._2).toMap
    // every corpus vector labeled, keep ⟺ id == label
    assert(labels.length ==
      graft.Tables.load(spark, sf(), "embeddings").count())
    labels.foreach { case (id, lab, keep) => assert(keep == (id == lab)) }
    // cluster label = min member, and every thresholded edge's
    // endpoints share a label (the closure property)
    labels.groupBy(_._2).foreach { case (lab, ms) =>
      assert(ms.map(_._1).min == lab)
    }
    Similarity.knnGraph(spark, sf()).collect()
      .filter(_.getAs[Double]("approx_cos") >= Similarity.SemTau)
      .foreach { r =>
        assert(byId(r.getAs[Long]("query_id")) ==
          byId(r.getAs[Long]("neighbor_id")))
      }
  }

  test("q175: semantic decontam covers exactly the train slice, " +
    "flags ⟺ a hit above tau") {
    import graft.dedup.Md5Prefix
    val out = Similarity.semanticDecontam(spark, sf()).collect()
    val evalIds = graft.Tables.load(spark, sf(), "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .where(Md5Prefix.h(org.apache.spark.sql.functions
        .col("vec_id").cast("string")) % Similarity.DecontamMod === 0)
      .collect().map(_.getLong(0)).toSet
    val total = graft.Tables.load(spark, sf(), "embeddings").count()
    // output = every train vector, never an eval one
    assert(out.length.toLong == total - evalIds.size)
    assert(out.forall(r => !evalIds.contains(r.getAs[Long]("vec_id"))))
    out.foreach { r =>
      val flagged = r.getAs[Boolean]("flagged")
      val n = r.getAs[Long]("n_eval_hits")
      val mc = Option(r.getAs[java.lang.Double]("max_cos"))
      assert(flagged == (n > 0))
      // max_cos present ⟺ flagged, and only above the threshold
      assert(mc.isDefined == flagged)
      mc.foreach(c => assert(c >= Similarity.SemTau))
    }
    // rerun is bit-identical (deterministic slice + exact int8 dot)
    assert(Similarity.semanticDecontam(spark, sf()).collect().toSeq ==
      out.toSeq)
  }

  test("q194 multi-probe never loses recall and strictly widens candidates") {
    val out = Similarity.knnLshMultiProbe(spark, sf()).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Boolean]("no_worse"),
      s"recall regressed for query ${r.getAs[Long]("query_id")}"))
    // the multi-probe result must contain every single-probe hit's
    // query and at least match its per-query exact-hit count — and
    // somewhere the extra probes must actually help (this corpus:
    // 0.48 → 0.76 mean recall at sf0.01)
    val perQ = out.groupBy(_.getAs[Long]("query_id"))
      .map { case (_, rs) => (rs.head.getAs[Long]("hits_multi"),
        rs.head.getAs[Long]("hits_single")) }
    assert(perQ.forall { case (m, s0) => m >= s0 })
    assert(perQ.exists { case (m, s0) => m > s0 },
      "multi-probe never helped — probe expansion broken?")
  }

  test("q168 witness above the exact ceiling: anchored independent " +
    "exact side (never the zone against itself)") {
    // force the anchored regime on the tiny corpus (500 > maxExact=10)
    val out = Similarity.knnBandedWitness(spark, sf(),
      maxExact = 10, nAnchors = 20).collect()
    // exactly the anchor set, one row each
    assert(out.length == 20)
    assert(out.map(_.getAs[Long]("query_id")).distinct.length == 20)
    out.foreach { r =>
      val nE = r.getAs[Long]("n_exact"); val nH = r.getAs[Long]("n_hit")
      assert(nE == Similarity.GraphK)
      assert(nH >= 0 && nH <= nE)
      assert(r.getAs[Double]("recall") <= 1.0)
    }
    assert(out.head.getAs[Double]("recall_overall") <= 1.0)
    // ground truth of the anchored exact side: at THIS corpus size
    // the served zone is exact, so the independently derived anchor
    // graph must agree with it perfectly — recall exactly 1.0. (At
    // true scale the zone is banded and this same comparison is the
    // real recall measurement; the round-9 vacuity — zone vs zone —
    // is structurally impossible now because the exact side never
    // reads the zone in this regime.)
    assert(out.head.getAs[Double]("recall_overall") == 1.0)
    // determinism: anchors are hash-selected, not sampled — rerun is
    // bit-identical
    val again = Similarity.knnBandedWitness(spark, sf(),
      maxExact = 10, nAnchors = 20).collect()
    assert(again.toSeq == out.toSeq)
  }

  test("q309 high-cosine regime (τ ≥ 0.9, what scaledBandShape is " +
    "sized for): planted-clone recall ≥ 0.95") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the natural corpus tops out below 0.8 cosine, so the dedup
    // regime is witnessed on PLANTED clones: each base vector gets a
    // deterministic perturbed twin at cos = 1/√(1+ε²) for ε up to
    // 0.45 (cos ≈ 0.912) — all inside τ = 0.9's neighborhood, with
    // the perturbation direction the base's own cyclic shift
    // (≈ orthogonal for random unit vectors)
    val base = graft.Tables.load(spark, sf("0.1"), "embeddings")
      .select(col("vec_id"), col("embedding"))
      .where(col("vec_id") < 400)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val eps = Array(0.10f, 0.20f, 0.30f, 0.42f)
    val planted = base.flatMap { case (id, v) =>
      val e = eps((id % 4).toInt)
      val d = v.length
      val shifted = Array.tabulate(d)(i => v((i + 7) % d))
      val raw = Array.tabulate(d)(i => v(i) + e * shifted(i))
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
      val clone = raw.map(_ / n)
      Seq((id, v, 0), (id + 100000L, clone, 0))
    }.toSeq
    val tmp = SparkSpec.tempDir("graft-planted-").toString
    planted.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val thr = 0.9
    val emb = spark.read.parquet(s"$tmp/embeddings.parquet")
    val brute = emb.as("a").join(emb.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        call_function("float_dot",
          col("a.embedding"), col("b.embedding")).as("cosine"))
      .where(col("cosine") >= thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size >= 400, s"planting failed: ${brute.size} pairs")
    val got = Similarity.nearDupPairsScaled(spark, tmp, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute)) // precision structural (exact verify)
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.95,
      s"high-τ recall $recall over ${brute.size} planted pairs")
  }

  test("q168 witness-free mode: the exact side and every recall " +
    "column leave plan and schema (round-11 uniformity)") {
    val free = Similarity.knnBandedWitness(spark, sf(),
      withWitness = false)
    assert(free.columns.toSeq == Seq("query_id", "n_banded"))
    val rows = free.collect()
    assert(rows.nonEmpty)
    // the served banded graph itself, aggregated: same query set as
    // the witnessed run's banded side
    val witnessed = Similarity.knnBandedWitness(spark, sf()).collect()
    assert(rows.length == witnessed.length,
      s"${rows.length} banded queries vs ${witnessed.length} witnessed")
  }
}
