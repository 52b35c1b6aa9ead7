package graft.ops

import graft.SparkSpec

/** Pins the plan properties the 100 TB design depends on — a Spark
  * upgrade or refactor that silently loses pushdown, pruning, or a
  * broadcast should fail here, not in a production plan audit.
  * (Complements HintsSpec/DedupSpec's plan assertions.) */
class PlanAuditSpec extends SparkSpec {

  private def planOf(q: String): String =
    graft.SparkEntry.queries(q)(spark, sf())
      .queryExecution.executedPlan.toString

  test("q02: filters reach the parquet scan and columns are pruned") {
    val plan = planOf("q02_cleaned_transform")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*IsNotNull.*"),
      "expected at least one pushed filter:\n" + plan)
    // the 18-column transform needs 7 of lineitem's 11 columns — a scan
    // reading all of them means pruning broke
    assert(!plan.contains("l_comment"),
      "unprojected column read from the scan:\n" + plan)
  }

  test("q11: the dimension side is broadcast, not shuffled") {
    val plan = planOf("q11_broadcast_join")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("q86: the partitioned-zone scan prunes at the directory level") {
    val plan = planOf("q86_partition_prune")
    assert(plan.matches(
      "(?s).*PartitionFilters: \\[[^\\]]*event_date[^\\]]*\\].*"),
      "expected PartitionFilters on event_date:\n" + plan)
  }

  test("q310: the sample is a TakeOrdered heap and the fact scan " +
    "reads only the two needed columns") {
    val plan = planOf("q310_sample_quantiles")
    // bottom-K by hash must be per-partition heaps, never a global
    // sort of the fact table (the operator's whole 100 TB point)
    assert(plan.contains("TakeOrderedAndProject"),
      "expected TakeOrderedAndProject for the bottom-K sample:\n" + plan)
    assert(!plan.matches("(?s).*Sort \\[h#.*global=true.*"),
      "global sort on the hash column found:\n" + plan)
    // column pruning: orders has 9 columns, the scan needs 2
    assert(plan.matches(
      "(?s).*ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>.*"),
      "expected a 2-column pruned orders scan:\n" + plan)
  }

  test("q311: both candidate cuts are TakeOrdered heaps; no corpus-" +
    "wide unpartitioned window survives") {
    val plan = planOf("q311_rrf_fusion")
    val takes = "TakeOrderedAndProject".r.findAllIn(plan).length
    assert(takes >= 2,
      s"expected two TakeOrdered candidate cuts, found $takes:\n" + plan)
    // the rank windows must sit ABOVE the top-C cuts (≤ C rows), so
    // every unpartitioned window input must come from a TakeOrdered,
    // not from the scored corpus: cheap structural proxy — the plan
    // has exactly as many Window nodes as TakeOrdered-fed rank cuts
    val windows = "Window \\[row_number".r.findAllIn(plan).length
    assert(windows == 2, s"expected 2 bounded rank windows:\n" + plan)
  }

  test("q15: per-group top-k prunes below the shuffle (WindowGroupLimit)") {
    // the rank<=k filter must become a WindowGroupLimit so each map
    // task forwards only k rows per group into the window exchange —
    // without it the full corpus shuffles just to be discarded
    val plan = planOf("q15_window_topk")
    assert(plan.contains("WindowGroupLimit"),
      "expected WindowGroupLimit rank pushdown:\n" + plan)
  }

  test("q217: the zone scan carries a dynamicpruning partition filter") {
    val plan = planOf("q217_dpp_join")
    assert(plan.matches(
      "(?s).*PartitionFilters: \\[[^\\]]*dynamicpruning[^\\]]*\\].*"),
      "expected a DPP subquery in the zone scan's PartitionFilters:\n" +
        plan)
  }

  test("q37: the signature pipeline runs once at EVERY scale — " +
    "every expansion branch reads the bands zone, zero corpus " +
    "re-scans") {
    // round-12 shape: PairGrid's grid/star/chain branches each
    // consume the banded relation, so it is a Scratch zone (the
    // ≥2-consumers rule) — the expensive scan → shingle explode →
    // 32-min aggregate pipeline materializes the zone exactly once
    // and the query plan itself must not touch documents.parquet.
    // Round-14 per-leg memo decision: the MinHash legs memo
    // UNCONDITIONALLY (no size gate) — their upstream is expensive
    // at every scale (quiet-box r13: q37 1.12 s zone-on vs 2.95 s
    // zone-off at sf0.1), unlike the simhash/perceptual legs below.
    val plan = planOf("q37_minhash_lsh")
    assert(!plan.contains("documents.parquet"),
      "a branch re-scanned the corpus instead of the bands zone:\n" +
        plan)
    assert(plan.contains("graft-scratch-"),
      "expected scans of the bands scratch zone:\n" + plan)
  }

  test("q38: below the size gate the bands zone is skipped — the " +
    "branches re-derive from the (cheap at this scale) corpus scan") {
    // the round-13 adjudication: at sf0.1 the zone was pure tax for
    // the legs whose upstream is an already-memoized hash zone or a
    // sub-second scan (quiet-box bench q38 2.0→6.0 s, q122
    // 1.1→6.1 s, q124 0.7→3.3 s); below MemoMinInputBytes the memo
    // key is None for THOSE legs and the plan scans the corpus
    // directly. (The MinHash legs are exempt — see the q37 pin.)
    assert(graft.dedup.PairGrid
      .memoKeyIfLarge(spark, sf(), "probe").isEmpty,
      "spec-scale corpus unexpectedly above the memo gate")
    val plan = planOf("q38_simhash")
    assert(plan.contains("documents.parquet"),
      "expected direct corpus scans below the gate:\n" + plan)
    // the digest-members zone (the collapse identity's membership
    // relation) is always present; the PAIR-BANDS zone is what the
    // size gate controls
    assert(!plan.contains("pair-bands-"),
      "expected no pair-bands zone below the gate:\n" + plan)
  }

  test("q102: the split is map-side — one scan, only the output-sort exchange") {
    val plan = planOf("q102_hash_split")
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    // the hash-bucket assignment itself must not shuffle; the single
    // Exchange in the plan is the deterministic gate ordering
    assert("(?<!Broadcast)Exchange".r.findAllIn(plan).length == 1,
      "expected exactly one (sort) exchange:\n" + plan)
    assert(!plan.contains("Window"), "split must not need a window:\n" + plan)
  }

  test("q154: hashed weights are pure column math — no join in the plan") {
    val plan = planOf("q154_linear_quality")
    // the weight lookup must never become a weight-relation join; the
    // only exchanges are the doc rollup and the output sort
    assert(!plan.contains("Join"), "weight lookup joined:\n" + plan)
    assert("(?<!Broadcast)Exchange".r.findAllIn(plan).length == 2,
      "expected only the rollup and output-sort exchanges:\n" + plan)
  }

  test("q162: top-50 is a TakeOrdered, not a global sort materialization") {
    val plan = planOf("q162_pmi_collocations")
    assert(plan.contains("TakeOrderedAndProject"),
      "expected TakeOrderedAndProject for the LIMIT:\n" + plan)
  }

  test("q103: quota sampling runs on the custom heap operator, not a window") {
    val plan = planOf("q103_quota_sample")
    assert(plan.contains("TopKPerGroup"),
      "expected the custom heap top-k node:\n" + plan)
    assert(!plan.contains("Window"),
      "quota must not fall back to a window sort:\n" + plan)
  }

  test("q106: chunking stays map-side — no window operator in the plan") {
    val plan = planOf("q106_cdc_chunks")
    // regression guard: the explode + lag/running-sum spelling planned
    // two Window nodes over the exploded token stream
    assert(!plan.contains("Window"),
      "CDC chunking regressed to a window shuffle:\n" + plan)
  }

  test("q112: the prefix sum is two-level — every corpus window is bucketed") {
    val plan = planOf("q112_sequence_pack")
    // the corpus-side running sum must be key-partitioned on bkt; the
    // only permissible unpartitioned window runs over the ≤128
    // bucket-totals rows. A single global corpus window (the DuckDB
    // oracle's spelling) would funnel 100 TB through one task.
    val windows = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(windows.nonEmpty, plan)
    val corpusWindows = windows.filter(_.contains("bkt"))
    assert(corpusWindows.nonEmpty,
      "expected the corpus running sum to be partitioned by bkt:\n" + plan)
    // offsets come back via broadcast, not a shuffle join
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q113: scrub chunking stays map-side; counts come back broadcast") {
    val plan = planOf("q113_span_scrub")
    assert(!plan.contains("Window"),
      "span scrub regressed to a window shuffle:\n" + plan)
    // the per-doc chunk explode (Generate) runs once in the zone-
    // production job; the consumer plan reads the stored chunks
    assert(plan.contains("graft-scratch-"), plan)
  }

  test("q116: every corpus-scale window is sub-bucketed; offsets broadcast") {
    val plan = planOf("q116_length_batches")
    val windows = "windowspecdefinition\\(([^)]*?) ASC".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    // the rank window must carry the sub split; the only windows
    // without it are the per-bucket prefix totals (tiny) and the
    // (bucket, batch_no) padding max (fine-grained)
    assert(windows.exists(_.contains("sub")),
      "expected the in-bucket rank to be sub-bucketed:\n" + plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q114: mixing is map-side — broadcast thresholds, explode, one sort") {
    val plan = planOf("q114_source_mix")
    assert(plan.contains("BroadcastHashJoin"),
      "weights must broadcast, not shuffle:\n" + plan)
    assert(plan.contains("Generate"), plan) // copy explode
    assert(!plan.contains("Window"), plan)
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
  }

  test("q117/q121: prefix-filtered joins plan NO product join anywhere") {
    // the whole point of prefix filtering is that the only joins are
    // equi-joins (shared shingle / candidate doc ids) — a cartesian or
    // nested-loop node means the lossless pruning silently degraded to
    // the all-pairs plan it exists to avoid. And every branch must
    // read the materialized shingle zone, not re-scan the corpus
    // (six re-scans before the shingle relation was materialized).
    for (q <- Seq("q117_setsim_join", "q121_containment_join")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n$plan")
      assert(!plan.contains("documents.parquet"),
        s"$q re-scans the corpus instead of the shingle zone:\n$plan")
    }
  }

  test("q36: no broadcast hint — every join may degrade to shuffle at scale") {
    // The pre-round-6 spelling broadcast the full tokenized corpus as
    // a join build side — an OOM past the broadcast budget at 100×.
    // Candidates now come from prefix filtering; this pins that NO
    // user strategy hint survives on any q36 join (an auto broadcast
    // chosen by size at this scale is fine — it re-decides at 100 TB;
    // a hint does not), that every branch reads the materialized
    // token zone rather than re-scanning the corpus, and that the
    // candidate join stayed an equi-join.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // the registered q36 scans the memoized pair zone; the pipeline
    // whose shape matters at 100 TB is the DERIVATION that builds it
    val qe = graft.dedup.Dedup.jaccardPairsUnordered(spark, sf())
      .queryExecution
    val hinted = qe.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
        j.hint.rightHint.exists(_.strategy.isDefined) => j.hint.toString
    }
    assert(hinted.isEmpty, s"strategy hints found on q36 joins: $hinted")
    val plan = qe.executedPlan.toString
    assert(plan.contains("graft-scratch-"), plan)
    assert(!plan.contains("documents.parquet"),
      "corpus re-scan instead of the token zone:\n" + plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q215/q212: vocabulary- and length-keyed joins stay hint-free") {
    // the frequent-item relation (q215) and the per-length max
    // relation (q212) both grow with the corpus — the no-hint rule
    // applies: AQE decides broadcast vs shuffle at runtime. The only
    // sanctioned hints are the 1-row constant relations.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Seq("q215" -> Mining.assocRules(spark, sf()),
      "q212" -> Mining.paretoFront(spark, sf())).foreach {
      case (name, df) =>
        val hinted = df.queryExecution.optimizedPlan.collect {
          case j: Join
            if j.hint.leftHint.exists(_.strategy.isDefined) ||
              j.hint.rightHint.exists(_.strategy.isDefined) =>
            // 1-row aggregates (the n_docs / divisor relations) are
            // the sanctioned constant broadcasts
            j
        }.filterNot { j =>
          Seq(j.left, j.right).exists(side =>
            side.maxRows.exists(_ <= 1L))
        }
        assert(hinted.isEmpty,
          s"$name: strategy hint on a corpus-growing join: $hinted")
    }
  }

  test("cluster family: NO user broadcast hint on any corpus-derived join") {
    // Every connected-component label join used to carry a forced
    // broadcast(labels): (id, label) over edge-participating docs is
    // KB at gate scale, but on a web corpus with 30–50% near-dup
    // rates it is O(corpus) rows, and a FORCED broadcast OOMs rather
    // than degrading. The discipline (the q36 rule, generalized): no
    // user strategy hint anywhere in a cluster-consumer plan — AQE
    // auto-broadcasts below the threshold and shuffles above it,
    // re-deciding at every scale. Pins all five cluster consumers.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // Every label join lives inside a memoized derivation (the
    // registered queries replay zone scans) — audit the derivation
    // plans directly: they are what runs at scale.
    val plans = Seq(
      "q98 derivation" ->
        graft.dedup.Dedup.clusterLabelsDerive(spark, sf()),
      "q107 derivation" ->
        graft.sim.Similarity.embeddingClustersDerive(spark, sf()),
      "q126 derivation" ->
        graft.multimodal.Perceptual.multimodalClustersDerive(spark, sf()),
      "q156 derivation" ->
        graft.sim.Similarity.semanticDedupDerive(spark, sf()),
      "q167 derivation" ->
        graft.dedup.Dedup.winnowClustersDerive(spark, sf()))
    for ((name, df) <- plans) {
      val hinted = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
          j.hint.rightHint.exists(_.strategy.isDefined) => j.hint.toString
      }
      assert(hinted.isEmpty, s"strategy hints found on $name joins: $hinted")
    }
  }

  test("q144: the incremental-cluster derivation carries no unbounded hint") {
    // The round-7 residual: incrementalClusters seeded its label table
    // via broadcast(base) where base = connectedComponents(oldEdges) —
    // the edge-PARTICIPANT relation that is O(corpus) on a near-dup-
    // heavy web corpus. The hint is gone; the ONLY sanctioned hinted
    // build side left in this plan is applyEdgeBatch's meta relation,
    // which connectedComponents labels on the driver at this scale: a
    // LocalRelation bounded by its driver bound (maxRows statically
    // known). Anything scan-backed that carries a strategy hint fails
    // here.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.dedup.Dedup.incrementalClusters(spark, sf())
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
        j.hint.rightHint.exists(_.strategy.isDefined) => j
    }.filterNot { j =>
      // statically-bounded build side (driver-local meta) is legal
      Seq(j.left, j.right).exists(_.maxRows.isDefined)
    }
    assert(hinted.isEmpty,
      s"unbounded strategy-hinted join in q144 derivation: " +
        hinted.map(_.hint.toString))
  }

  test("q180/q182: graph/report consumers carry no strategy hints either") {
    // same discipline extended to the round-12 additions: PageRank's
    // per-iteration rank joins and the histogram's totals must be
    // free to degrade to shuffle joins as the corpus grows (the
    // histogram's 1-row totals crossJoin(broadcast) is a CONSTANT
    // relation — the one legal hint class, same as q160's)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val pr = graft.sim.Spectral.pagerankCentrality(spark, sf())
    val hinted = pr.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
        j.hint.rightHint.exists(_.strategy.isDefined) => j.hint.toString
    }
    assert(hinted.isEmpty, s"strategy hints in q180 plan: $hinted")
  }

  test("q178: the KMV sketch rides partial aggregation, not a collect") {
    // the typed Aggregator must plan as a two-phase object hash
    // aggregate (map-side shrink → merge) — the mergeable-summary
    // shape that makes the sketch affordable at any scale
    val plan = graft.text.Sketches.kmvDistinct(spark, sf())
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected object hash aggregate phases for the udaf:\n$plan")
  }

  test("q119: one key-partitioned window, no global sort before it") {
    val plan = planOf("q119_forward_fill")
    val windows = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(windows.nonEmpty, plan)
    assert(windows.forall(_.contains("user_id")),
      "LOCF window must be partitioned by user_id:\n" + plan)
  }

  test("q127: one user shuffle feeds both funnel windows and the agg") {
    val plan = planOf("q127_funnel")
    // stage-dependency resolution must not multiply shuffles: one
    // Exchange on user_id under both Window operators (the per-user
    // aggregate reuses it), plus only the final 1-row rollup Exchange
    assert("(?<!Broadcast)Exchange".r.findAllIn(plan).length == 2,
      "expected exactly two exchanges (user shuffle + final rollup):\n" +
        plan)
    assert("Window".r.findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("Join"), "funnel must not self-join:\n" + plan)
  }

  test("q106/q113: both chunk branches read the parquet chunk zone") {
    // the CDC chunk relation is stored once (Scratch); the fingerprint
    // aggregate and the join-back both scan the zone, never re-chunk
    for (q <- Seq("q106_cdc_chunks", "q113_span_scrub")) {
      val plan = graft.SparkEntry.queries(q)(spark, sf())
        .queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        s"$q re-scanned the corpus instead of the chunk zone:\n" + plan)
      // zone paths truncate in plan display — match the root marker
      assert(plan.contains("graft-scratch-"),
        s"$q: expected scans of the chunk scratch zone:\n" + plan)
    }
  }

  test("q133: sketch is lazy (no compute job at construction), one scan") {
    // the first Tables.load of a table in the JVM runs a 1-task parquet
    // footer job ("parquet at Tables.scala") at construction, and a
    // repeat load of the unchanged table runs none (TablesReadSpec), so
    // whether one ran here depends on the suites before it; the
    // eagerness under test is a COMPUTE job — the old stat.freqItems
    // spelling ran a corpus aggregate synchronously at call time
    @volatile var names = List.empty[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        names ::= j.stageInfos.map(_.name).mkString("|")
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = graft.SparkEntry.queries("q133_freq_items")(spark, sf())
      // barrier job: flushes the listener bus (an RDD action — a SQL
      // count would itself spawn async AQE stage jobs)
      spark.sparkContext.parallelize(Seq(1)).count()
      var (seen, stableSince) = (names.size, System.currentTimeMillis)
      while (System.currentTimeMillis - stableSince < 500) {
        if (names.size != seen) { seen = names.size
          stableSince = System.currentTimeMillis }
        Thread.sleep(20)
      }
      val compute = names.filterNot(_.startsWith("parquet at"))
      assert(compute.size == 1, // the barrier count() only
        s"constructing q133 submitted eager compute job(s): $compute")
      df.collect()
      // count scans in the FINAL adaptive plan only — toString appends
      // the pre-reuse "== Initial Plan ==" section after it
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans == 1,
        s"expected ONE corpus scan (exchange reuse dedups the " +
          s"tokenize shuffle), got $scans:\n$plan")
      assert("ReusedExchange".r.findAllIn(plan).length >= 2,
        "tot and sketch branches must reuse the tokenize shuffle:\n" +
          plan)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("q145: every branch reads the token zone — zero corpus re-scans") {
    val plan = planOf("q145_exact_span_scrub")
    assert(!plan.contains("documents.parquet"),
      "a branch re-scanned the corpus instead of the token zone:\n" +
        plan)
    assert(plan.contains("graft-scratch-"),
      "expected scans of the token scratch zone:\n" + plan)
  }

  test("q146/q147: epoch shuffle and token budget keep the two-level prefix shape") {
    // same invariant as q112: the corpus-side running window must be
    // key-partitioned on bkt; only the ≤129-row bucket-totals relation
    // may take an unpartitioned window, and offsets come back via
    // broadcast. A refactor to the oracle's single global window would
    // funnel the whole corpus through one task.
    for (q <- Seq("q146_seeded_shuffle", "q147_token_budget")) {
      val plan = planOf(q)
      val windows = "windowspecdefinition\\(([^,]*)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(windows.nonEmpty, s"$q:\n$plan")
      assert(windows.exists(_.contains("bkt")),
        s"$q: expected the corpus window partitioned by bkt:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: bucket offsets must come back broadcast:\n$plan")
    }
  }

  test("q149: repetition rules are one corpus scan, aggregates only") {
    val plan = planOf("q149_repetition_filter")
    // the three gram families build map-side into ONE tagged array —
    // a per-family explode would plan three corpus scans
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      "expected ONE corpus scan for all three gram families:\n" + plan)
    assert(!plan.contains("Window"),
      "concentration rollups must be aggregates, not windows:\n" + plan)
  }

  test("q150: keep-first scrub reads the chunk zone — no corpus re-scan") {
    val plan = planOf("q150_keepfirst_scrub")
    assert(!plan.contains("documents.parquet"),
      "a branch re-scanned the corpus instead of the chunk zone:\n" +
        plan)
    assert(plan.contains("graft-scratch-"),
      "expected scans of the chunk scratch zone:\n" + plan)
    assert(!plan.contains("Window"),
      "survivor selection must be groupBy-min, not a window:\n" + plan)
  }

  test("q152: phrase grep is map-side — one scan, no shuffle but the sort") {
    val plan = planOf("q152_phrase_search")
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    // positional alignment lives in the document's own token array —
    // a positional-postings join would shuffle (doc, pos) k ways
    assert("(?<!Broadcast)Exchange".r.findAllIn(plan).length == 1,
      "expected only the output-sort exchange:\n" + plan)
    assert(!plan.contains("Join"), "phrase grep must not join:\n" + plan)
    // the scan is the token ZONE: a parquet-backed `w` is a leaf
    // attribute, so CollapseProject cannot inline the tokenize split
    // into the per-position lambda (the O(positions × terms)
    // re-tokenize; measured 7.6 s → 0.6 s)
    assert(plan.contains("graft-scratch-"),
      "expected the lc-tokens zone scan:\n" + plan)
    assert(!plan.contains("split("),
      "tokenize leaked into the consumer plan:\n" + plan)
  }

  test("q120: canonicalization is map-side and stays in codegen") {
    val df = graft.SparkEntry.queries("q120_nfc_clean")(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    // only the deterministic output sort may shuffle
    assert("(?<!Broadcast)Exchange".r.findAllIn(plan).length == 1,
      "expected exactly one (sort) exchange:\n" + plan)
    // the native expression must not break whole-stage codegen — the
    // `*(n)` stage markers only appear in the FINAL adaptive plan, so
    // execute first; the Project evaluating nfc_normalize must carry
    // one (a non-codegen expression would strand it outside any stage)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[doc_id".r
      .findFirstIn(finalPlan).isDefined,
      "nfc_normalize project fell out of whole-stage codegen:\n" +
        finalPlan)
  }

  test("q204: the ORC read side pushes the size predicate into the scan") {
    val plan = planOf("q204_orc_roundtrip")
    assert(plan.contains("Scan orc"), "expected an ORC scan:\n" + plan)
    assert(plan.matches(
      "(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(p_size,25\\).*"),
      "size predicate not pushed to the ORC scan:\n" + plan)
  }

  test("q196: fuzzy candidates come from key-equality joins only") {
    val plan = planOf("q196_fuzzy_name_join")
    // the SymSpell blocking's whole point: candidate generation must
    // never degrade to a non-equi name² comparison
    assert(!plan.contains("CartesianProduct"),
      "fuzzy join degraded to a cartesian:\n" + plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "fuzzy join degraded to a nested loop:\n" + plan)
    // and no user hint forces a broadcast of a corpus-derived side
    assert(!graft.SparkEntry.queries("q196_fuzzy_name_join")(spark, sf())
      .queryExecution.logical.toString.contains("UnresolvedHint"),
      "user hint found in the fuzzy join plan")
  }

  test("q199: the pair scan streams the CORPUS and builds the query " +
    "zone — never the inverse") {
    val plan = planOf("q199_retrieval_eval")
    // the non-equi pair join must be a nested loop building the RIGHT
    // (query-zone) side; BuildLeft would broadcast the corpus vectors
    // and stream ~|queries| rows on a handful of tasks (measured ~3×
    // slower at sf0.1, OOM at corpus scale)
    assert(plan.contains("BroadcastNestedLoopJoin Inner, BuildRight") ||
      plan.contains("BroadcastNestedLoopJoin BuildRight") ||
      "BroadcastNestedLoopJoin [^,\\n]*BuildRight".r
        .findFirstIn(plan).isDefined,
      "pair scan lost its build-right shape:\n" + plan)
    assert(!plan.contains("BuildLeft"),
      "corpus side became the broadcast build side:\n" + plan)
    assert(!plan.contains("CartesianProduct"),
      "pair scan degraded to a cartesian shuffle:\n" + plan)
  }
  test("q277/q291: single-scan shapes (one lineitem read each)") {
    // both claim ONE corpus scan in their scaladoc: the moment
    // rollup and the trimmed-mean histogram
    for (q <- Seq("q277_moment_stats", "q291_trimmed_mean")) {
      val plan = planOf(q)
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans == 1, s"$q: expected ONE scan, got $scans:\n$plan")
    }
  }

  test("q284: the profiler melts through stack, no Expand multi-distinct") {
    // r14 shape: the 11-way multi-countDistinct used to plan as
    // Catalyst's Expand (×12 rows, 12-column grouping key). The melted
    // spelling is a stack Generate of narrow (column_name, v) rows
    // into a two-level aggregation; the only extra scan is the
    // zero-column count(*) side (reads no columns — footer-cheap).
    val plan = planOf("q284_column_profile")
    assert(!plan.contains("Expand"),
      "profiler regressed to the Expand multi-distinct shape:\n" + plan)
    assert(plan.contains("stack"),
      "expected the stack melt Generate:\n" + plan)
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 2,
      s"expected melt scan + count-only scan (2), got $scans:\n$plan")
  }

  test("q283: BM25 holds no corpus-growing broadcast and tops out " +
    "in a WindowGroupLimit or top-k sort") {
    val plan = planOf("q283_bm25_topk")
    // the final top-k must be a bounded TakeOrdered, never a global sort
    assert(plan.contains("TakeOrderedAndProject"),
      "expected TakeOrderedAndProject for LIMIT-k:\n" + plan)
  }

  test("q168: the banded candidate stage carries no array aggregation") {
    // the sf10 OOM class: collect_list of bucket arrays. The windowed
    // spelling must keep the candidate path free of ObjectHashAggregate
    // collect_list state (sort_array/collect_list may appear ONLY in
    // constant-frame windows elsewhere, never here)
    val plan = planOf("q168_knn_banded_witness")
    assert(!plan.contains("collect_list"),
      "banded candidates regressed to the array spelling:\n" + plan)
  }
  test("q309: the exploded candidate stream is re-keyed by id1 before " +
      "the verify joins") {
    // the round-9 expansion-stage rule: the grid join's input is tiny,
    // so AQE coalesces its shuffle to a handful of tasks — and the
    // triangle explode then multiplies rows ~10^5x inside them (OOM'd
    // sf10 at the derived partition count). The explicit
    // repartition(id1) must stay between the explode and the joins.
    // the memoized q309 entry reads the zone parquet — audit the
    // DERIVATION plan itself
    val plan = graft.sim.Similarity
      .nearDupPairsShaped(spark, sf(), graft.sim.Similarity.ScaledBands,
        4, 0.45)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(id1"),
      "expected the post-explosion repartition on id1:\n" + plan)
  }
  test("q303: the aggregate is COMPLETELY pushed into the DSv2 source") {
    val plan = planOf("q303_dsv2_agg_pushdown")
    assert(plan.contains("AGG-PUSHED"),
      "expected the source's pushed-aggregate scan:\n" + plan)
    assert(!plan.contains("HashAggregate"),
      "complete pushdown must plan NO aggregate node:\n" + plan)
  }
}
