package graft

/** Plan-shape regression tests: the SCALE.md contract, asserted.
  * These run against sf0.001. Hint policy under test: only
  * fixed-cardinality frames (nation=25, region=5, literal lookup maps)
  * carry `broadcast()` hints; SF-scaling frames (customer, derived
  * aggregates) are left to size-based selection so the same code
  * broadcast-joins at small SF and shuffle-joins at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q1_agg: filter pushed into the parquet scan, schema pruned") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate filter must reach the scan")
    assert(!p.contains("l_partkey"), "unused columns must be pruned from the scan")
  }

  test("q3_shipping: dims broadcast by size, fact side never shuffle-joins") {
    val p = plan("q3_shipping")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"), "no shuffle join on the fact table")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "dim filter must push into the customer scan")
  }

  test("q5_nation_revenue: 4-way broadcast star join, single agg exchange") {
    val p = plan("q5_nation_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4)
    assert(!p.contains("SortMergeJoin"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "exactly one shuffle: the final aggregation")
  }

  test("a7_argmax: ONE hash-agg shuffle, no window sort over the fact table") {
    val p = plan("a7_argmax")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
    assert(!p.contains("Window"), "argMax must not be a window function")
    assert(p.contains("partial_max"), "map-side partial aggregation expected")
  }

  test("j1_left_outer: dim side broadcast") {
    val p = plan("j1_left_outer")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"))
  }

  test("d2/d6/d7-pairgen: no broadcast HINT — per-doc sizes computed rowwise") {
    // Round-2 verdict scale-killer: sizes (one row per document) was
    // broadcast()-hinted onto the candidate-pair frame, forcing O(n_docs)
    // executor memory at ANY scale. Now n_sh = size(array_distinct(...))
    // is computed rowwise BEFORE the explode — no sizes table, no hint,
    // and no window shuffle either: the analyzed plan must hold zero
    // ResolvedHints and the physical plan zero Window nodes. (Catalyst/
    // AQE may still pick a broadcast from ACTUAL runtime sizes at small
    // SF — that is the desired size-based behavior.)
    // d2 is served from the shared pinned pair frame, so assert on the
    // plan that builds the rep_pair_stats pin every pair query reads
    val pairgen = graft.queries.Dedup.sharedRepStats(spark, dir)
      .queryExecution
    assert(!pairgen.analyzed.toString.contains("ResolvedHint"),
      "pair-gen must not carry a join-strategy hint")
    assert(!pairgen.executedPlan.toString.contains("Window"),
      "pair-gen should compute n_sh rowwise pre-explode, not via window")
    // sanity: the check distinguishes — q5 DOES hint its bounded dims
    assert(SparkEntry.queries("q5_nation_revenue")(spark, dir)
      .queryExecution.analyzed.toString.contains("ResolvedHint"))
  }

  test("j3_tfidf: diamond reuses ONE token-count exchange — no corpus cache") {
    // Round-6 verdict item: j3 used to .cache() the exploded token frame
    // (corpus-sized storage pinning). Now totals/df derive from the one
    // (doc_id, word) counts aggregate, whose identical subplan across the
    // diamond's branches is collapsed by exchange reuse — under AQE that
    // happens at runtime, so execute first and assert on the final plan.
    val df = SparkEntry.queries("j3_tfidf")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("InMemoryTableScan"),
      "no corpus-sized cache may pin executor storage memory")
    assert(p.contains("ReusedExchange"),
      s"the counts exchange must be reused across the diamond:\n$p")
  }

  test("d18_incremental_dedup: every consumption reads the ONE pinned " +
      "content-group frame") {
    // Round-20 pin shape (supersedes the round-16 exchange-reuse
    // assertion): the query consumes the content aggregate three times
    // (fresh side, ref side — with the ref group size riding the
    // shingle rows — and the final fresh-membership expansion), and all
    // three now read the session-pinned sharedContentGroups frame — the
    // corpus scan + groupBy(arr) exchange runs ONCE PER SESSION for the
    // whole dedup family, not once per query. The executed plan must
    // therefore consume InMemoryTableScan on every side and plan no
    // content re-aggregation of its own: the only collect_list agg is
    // the one inside the printed cached-relation subtree.
    graft.queries.Dedup.evictCaches(spark)
    val df = SparkEntry.queries("d18_incremental_dedup")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // ≥1 pin read; the other consumptions may print as ReusedExchange /
    // reused query stages over the same cached relation (AQE collapses
    // identical pin-rooted subtrees), so the count is a floor, not 3
    val pinReads = "InMemoryTableScan".r.findAllIn(p).length
    assert(pinReads >= 1,
      s"the content consumptions must read the pin, got $pinReads:\n$p")
    // no top-level corpus scan: each InMemoryRelation's printed child
    // subtree contains exactly one FileScan (the pin's own build), so a
    // FileScan count above the relation count means a consumption
    // bypassed the pin and re-scanned the corpus
    val fileScans = "FileScan parquet".r.findAllIn(p).length
    val relations = "InMemoryRelation".r.findAllIn(p).length
    // r20 ADVICE: fileScans <= relations passes vacuously at 0 <= 0 if a
    // Spark version stops printing either marker — the pin must APPEAR
    assert(relations >= 1,
      s"the pinned content-group relation must print in the plan:\n$p")
    assert(fileScans <= relations,
      s"a consumption re-scanned the corpus past the pin " +
        s"($fileScans FileScans vs $relations cached subtrees):\n$p")
  }

  test("d23_source_overlap: corpus chain runs once, result is a local frame") {
    // Round-13 shape: pair fan-out AND size markers ride ONE explode of
    // the per-shingle source-set aggregate into a single (src_i, src_j)
    // count that is ≤S²+S rows — dimension-bounded — so it is COLLECTED
    // and the Jaccard arithmetic finishes on the driver. The returned
    // frame must therefore contain NO parquet scan and no replay of the
    // collect_set aggregate (Catalyst's pushed null-filters split the
    // exchange subtrees and defeated reuse in the r12 join shape — the
    // "second pair pass"): the one corpus chain ran inside the collect.
    val df = SparkEntry.queries("d23_source_overlap")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("FileScan"),
      s"consumers must read the collected pair matrix, never the corpus:\n$p")
    assert(!p.contains("collect_set"),
      s"the per-shingle source-set agg must not replay per consumer:\n$p")
  }

  test("j11_bm25: pin-fed retrieval — one query scan, no corpus re-read") {
    // Round 14 (r13 verdict item 1): bm25Plan reads the session-pinned
    // posting frame, so the only parquet read left is the pushed-filter
    // doc_id < 5 query branch — hits and totals both fold from the pin.
    // Evict first so the assertion is order-independent (the r13 red
    // suite: whichever spec materialized the pin first determined what
    // later plan assertions saw), and walk with PlanWalk so the pin's
    // cached BUILD plan (asserted at its own site) is excluded.
    graft.queries.TextAnalytics.evictCaches(spark)
    val df = graft.queries.TextAnalytics.bm25Plan(spark, dir)
    df.collect() // finalize AQE
    val p = graft.core.PlanWalk.outer(df)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"only the doc_id<5 query branch may read parquet:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"hits + totals must read the pinned posting frame:\n$p")
    // exactly 2 shuffles: the qid repartition that runs every
    // downstream agg/window, and the 1-row totals fold — the totals'
    // per-doc agg rides the pin's doc_id partitioning with NO exchange
    // of its own, and the corpus instance stream never shuffles (it
    // only ever moved once, into the pin)
    val shuffles = "Exchange (hashpartitioning|SinglePartition)".r
      .findAllIn(p).size
    assert(shuffles == 2,
      s"expected qid repartition + 1-row totals only, got $shuffles:\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).size == 2,
      s"hits + totals are the pin's two consumers:\n$p")
    // and the pinned queries-map entry is a BARE cached scan: zero
    // exchanges, zero joins above the pin
    val pinned = SparkEntry.queries("j11_bm25")(spark, dir)
    val pp = graft.core.PlanWalk.outer(pinned)
    assert(pp.contains("InMemoryTableScan"),
      s"the j11 entry must serve the session pin:\n$pp")
    assert(!pp.contains("Exchange") && !pp.contains("Join"),
      s"nothing may run above the pinned rank frame:\n$pp")
  }

  test("x14/x16 LM scores: pin-fed agg+join — no corpus scan, no window, no instance shuffle") {
    // Round-14 shape (r13 verdict item 3): both LM scores fold their
    // term totals FROM the session-pinned (doc, term) count frames by
    // two-phase partial aggregation and join the vocab-sized stats
    // back. Per evaluation: zero parquet scans (the pin is the only
    // input), zero analytic windows (the old term-keyed window count
    // re-aggregated the instance stream per eval), zero explicit
    // clustering repartitions, and map-side partial aggregation on the
    // stats folds. The stats join stays size-selected.
    graft.queries.TextAnalytics.evictCaches(spark)
    for (q <- Seq("x14_unigram_logprob", "x16_bigram_logprob")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect() // finalize AQE
      val p = graft.core.PlanWalk.outer(df)
      assert(!p.contains("FileScan parquet"),
        s"$q: every input must be the pinned count frame:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"$q: the pinned count frame must feed the plan:\n$p")
      assert(!p.contains("Window"),
        s"$q: no per-eval window count over the instance stream:\n$p")
      assert(!p.contains("REPARTITION_BY_COL"),
        s"$q: no explicit clustering repartition:\n$p")
      assert(p.contains("partial_sum"),
        s"$q: the doc agg must fold with map-side partials:\n$p")
      // the pins are PARTITIONED BY doc_id at build time, so the final
      // doc agg plans NO exchange: warm = one stage + broadcast build
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q: the doc agg must ride the pin's doc_id partitioning:\n$p")
    }
  }

  test("LM pin builds: postings/bigrams pay ONE corpus exchange each") {
    // Round 21 (guide §2.4): the pins are doc_id-partitioned for their
    // consumers, and hash(doc_id) satisfies the (doc, term…) fold's
    // clustered distribution — so the build must plan the repartition
    // FIRST and let the aggregate ride it. The former agg-then-
    // repartition shape shipped the aggregated frame through a second
    // full exchange; a regression back to it doubles the build's
    // shuffle volume at 100 TB.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    graft.queries.TextAnalytics.evictCaches(spark)
    val docs = graft.core.Tables.documents(spark, dir)
    for ((name, pin) <- Seq(
        "postings" -> graft.queries.TextAnalytics.sharedPostings(docs),
        "bigrams" -> graft.queries.TextAnalytics.sharedBigrams(docs))) {
      pin.count() // materialize the pin
      val scan = graft.core.PlanWalk.nodes(pin).collectFirst {
        case s: InMemoryTableScanExec => s
      }
      assert(scan.isDefined, s"$name pin must plan as a cached scan")
      val build = scan.get.relation.cachedPlan.toString
        .split("== Initial Plan ==").head // AQE prints the plan twice
      assert("Exchange hashpartitioning".r.findAllIn(build).size == 1,
        s"$name pin build must pay exactly ONE corpus exchange:\n$build")
      assert(build.contains("REPARTITION_BY_COL"),
        s"$name pin must be doc_id-partitioned by the one exchange:\n$build")
    }
  }

  test("x17/t6: per-group stats ride clustered windows — no derived-frame join") {
    // Round-10: x17's norm and t6's sketch cells were aggregates joined
    // back onto their own input frame (double-computed under divergent
    // pruning). Round-15: x17 fused into the hash_embed codegen
    // expression — the whole embedding is per-document, so the query is
    // MAP-ONLY (zero exchanges; FunctionsSpec pins that plus
    // bit-identity). t6 keeps the single explicit clustering.
    for ((q, scans, reparts) <- Seq(("x17_hash_embedding", 1, 0),
        ("t6_cms_heavy_hitters", 1, 1))) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect() // finalize AQE
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert("REPARTITION_BY_COL".r.findAllIn(p).size == reparts,
        s"$q: unexpected clustering-repartition count:\n$p")
      assert("FileScan parquet".r.findAllIn(p).size == scans,
        s"$q: unexpected scan count (branch recompute crept back?):\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        s"$q: no derived-frame join expected:\n$p")
    }
  }

  test("d5_embed_neardup: block grid join — no corpus-sized broadcast or collect") {
    // The block frames aggregate to B rows each; the grid join of two
    // B-row frames is the ONLY join. Corpus-sized data moves through one
    // hash-agg exchange (groupBy blk) INTO the persisted pin (round 18:
    // persist, not localCheckpoint — the pin doctrine, so the cached
    // build subtree now prints inside InMemoryRelation), never to the
    // driver. Above the pin read the grid must not shuffle corpus rows
    // by key at all — only the round-robin cell spread.
    val p = plan("d5_embed_neardup")
    assert(p.contains("InMemoryTableScan"),
      s"grid sides must read the persisted block pin:\n$p")
    // diagnostic failure, not an SIOOBE, when the plan has the table
    // scan but no relation section (r18 ADVICE: indexOf would read -1)
    assert(p.contains("InMemoryRelation"),
      s"plan must print the InMemoryRelation pin section:\n$p")
    val aboveCache = p.substring(0, p.indexOf("InMemoryRelation"))
    assert(!aboveCache.contains("Exchange hashpartitioning"),
      s"no key-shuffle above the block pin — grid rows spread " +
        s"round-robin only:\n$p")
    assert("Exchange hashpartitioning".r
        .findAllIn(p.substring(p.indexOf("InMemoryRelation"))).size <= 4,
      s"the pin build is ONE blk hash-agg exchange (printed once per " +
        s"grid side x initial+final AQE display):\n$p")
    assert(p.contains("SerializeFromObject"), "JIT flatMap stage expected")
    // round 17: the grid frame is tiny in bytes but enormous in
    // compute, and AQE coalesces by bytes — without the explicit
    // REPARTITION_BY_NUM the whole 20x grid ran as ONE task (measured:
    // one core, half an hour). Pin the round-robin exchange so a
    // refactor can't silently re-serialize the grid.
    assert(p.contains("REPARTITION_BY_NUM"),
      s"grid must spread via an explicit REPARTITION_BY_NUM exchange:\n$p")
  }

  test("d17_edit_verify: text-group exchange keys on the sha2 digest, never raw text") {
    // Round 19 (r18 verdict "what's wrong" item 1): the text-identity
    // collapse groups byte-identical docs, but the corpus-sized group
    // exchange must partition on the 32-byte sha2(text, 256) digest —
    // keying it on the multi-KB document body roughly doubles the
    // exchange bytes at 100 TB for the same answer. The text itself
    // rides the shuffle once as an aggregate carry, never as a key.
    val p = plan("d17_edit_verify")
    assert(p.contains("sha2"),
      s"text-group collapse must key on the sha2 digest:\n$p")
    assert(!"hashpartitioning\\(text#".r.findFirstIn(p).isDefined,
      s"no exchange may partition on the raw text column:\n$p")
  }

  test("d5_embed_neardup: corpus-size guard fails fast past the cap") {
    // r15 verdict item 5: exact all-pairs is O(n²) by contract — past
    // the cap it must refuse with a pointer to the approximate paths,
    // not launch the grid. Below the cap (default) behavior is
    // unchanged (the oracle gate proves the result).
    spark.conf.set("graft.d5.maxVectors", "3")
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("d5_embed_neardup")(spark, dir).collect()
      }
      assert(e.getMessage.contains("v3_ann_lsh") &&
        e.getMessage.contains("graft.d5.maxVectors"),
        s"guard message must name the cap and the scale paths: $e")
    } finally spark.conf.unset("graft.d5.maxVectors")
    assert(SparkEntry.queries("d5_embed_neardup")(spark, dir).count() > 0)
  }

  test("d4_simhash_pairs: output-volume guard fails fast past the cap") {
    // r16 verdict item 1: the doc-pair expansion is O(clique²) in
    // verbatim-copy mass — past the cap it must refuse with a pointer
    // to the group-form contract, not launch the expansion. Below the
    // cap (default) behavior is unchanged (the oracle gate proves the
    // result set).
    spark.conf.set("graft.d4.maxPairs", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("d4_simhash_pairs")(spark, dir).collect()
      }
      assert(e.getMessage.contains("graft.d4.maxPairs") &&
        e.getMessage.contains("d4_group_stats"),
        s"guard message must name the cap and the group-form path: $e")
    } finally spark.conf.unset("graft.d4.maxPairs")
    assert(SparkEntry.queries("d4_simhash_pairs")(spark, dir).count() > 0)
  }

  test("d4 group form: expansion volume equals the group-frame estimate") {
    // the guard's estimate must be EXACT, not approximate: the sum of
    // per-group pair counts is the number of doc pairs the expansion
    // emits (and the two frames stay consistent as either side evolves)
    import spark.implicits._
    val gp = graft.queries.Dedup.simhashGroupPairs(spark, dir)
    val est = gp.agg(org.apache.spark.sql.functions.sum($"n_pairs"))
      .as[Option[Long]].head().getOrElse(0L)
    val expanded = SparkEntry.queries("d4_simhash_pairs")(spark, dir).count()
    assert(est === expanded,
      s"group-frame estimate $est != expanded doc-pair count $expanded")
  }

  test("d2/d4: fused shingle + simhash exprs stay inside codegen spans") {
    // d2's shingle generation must be the single fused expression inside
    // a WholeStageCodegen projection — not a chain of interpreted
    // higher-order functions (transform/array_join/slice/array_distinct).
    // execute so AQE finalizes and codegen spans materialize in the plan
    // (the d2 QUERY serves the pinned shared frame — a cached scan —
    // so inspect the rep_pair_stats pin's build plan)
    val d2df = graft.queries.Dedup.sharedRepStats(spark, dir)
    d2df.collect()
    val d2 = d2df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\)[\s\S]*?hashed_shingles""".r.findFirstIn(d2).isDefined,
      s"hashed_shingles must sit in a codegen span:\n$d2")
    assert(!d2.contains("array_join") && !d2.contains("array_distinct"),
      "no interpreted string-shingle pipeline in the d2 plan")
    val d4 = SparkEntry.queries("d4_simhash")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\)[\s\S]*?simhash32""".r.findFirstIn(d4).isDefined,
      s"simhash32 must sit in a codegen span:\n$d4")
    assert(!d4.contains("aggregate(") && !d4.contains("ScalaUDF"),
      "no interpreted bit-vote pipeline in the d4 plan")
  }

  test("d9_decontaminate: unhinted shingle equi-join, rowwise everything else") {
    val qe = SparkEntry.queries("d9_decontaminate")(spark, dir).queryExecution
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "benchmark side must be size-selected (AQE), never hint-forced")
    val p = qe.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    // the fused expr explodes directly inside Generate — never an
    // interpreted transform/array_distinct chain
    assert(p.contains("Generate explode(hashed_shingles"),
      s"8-gram shingling must stay the fused expression:\n$p")
    assert(!p.contains("array_distinct"))
  }

  test("x8_repetition / v7_quantize: pure rowwise — zero exchanges") {
    Seq("x8_repetition", "v7_quantize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q must not shuffle (rowwise quality/quantization op):\n$p")
    }
    // the Generate barrier must hold: exactly ONE repetition_stats call
    // in the x8 plan (CollapseProject would inline it 3×)
    val x8 = plan("x8_repetition")
    assert("repetition_stats".r.findAllIn(x8).size == 1,
      s"stats expr must be computed once behind the Generate barrier:\n$x8")
  }

  test("j7_asof: one window pass, no join operator at all") {
    val p = plan("j7_asof_attribution")
    assert(p.contains("Window"), "as-of must run as a window scan")
    assert(!p.contains("Join"), s"as-of must not plan any join:\n$p")
  }

  test("j8_range_outage: binned equi-join, never BroadcastNestedLoop") {
    val p = plan("j8_range_outage")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join must not fall back to the O(n*m) plan:\n$p")
    assert(p.contains("Join"), "bin equi-join expected")
  }

  test("plan sweep: no Cartesian products; nested-loop joins only on bounded frames") {
    // BroadcastNestedLoopJoin is only acceptable when the build side is
    // bounded by a CONSTANT (not by the data): 1-row global aggregates
    // (j3/j5/x7), K-row centroid codebooks (v4/v6), the B-row block grid
    // (d5). Anything else — and any CartesianProduct anywhere — is an
    // accidental quadratic plan and must fail this sweep.
    val boundedBnlj = Set("d5_embed_neardup", "j3_tfidf",
      "j5_above_global_avg", "v4_knn_ivf", "v6_kmeans", "x7_pmi_bigrams",
      "d19_semantic_dedup", // K-row centroid broadcast (v6's assignment)
      "v8_knn_int8", // 20-row query slice broadcast, corpus never loops
      "v14_knn_ivf_adc", // 10-row centroid codebook broadcast (v4 shape)
      "x12_source_mix", // 1-row total-tokens + 1-row weight-sum broadcasts
      "x13_source_divergence", // 1-row corpus-total broadcast
      "t6_cms_heavy_hitters", // 1-row corpus-total broadcast
      "x14_unigram_logprob", // 1-row corpus-totals broadcast
      "x15_quality_deciles", // 1-row decile-boundary broadcast
      "x20_dsir_weights", // 1-row LM-totals + 1-row quartile broadcasts
      "j11_bm25", // 1-row (n_docs, avglen) broadcast
      "j12_rrf_fusion", // embeds j11's sparse side ⇒ same 1-row broadcast
      "d20_dup_pagerank", // 1-row doc-count broadcast per iteration
      "x16_bigram_logprob", // 1-row vocab-size broadcast
      "x29_interp_lm", // 1-row corpus-token-total broadcast
      "x21_temperature_mix", // 1-row weight-sum broadcast
      "x25_shard_manifest", // 1-row octile-boundary broadcast
      "d22_snapshot_diff", // 1-row max(doc_id) twin-shift broadcast
      "d24_normalized_dedup", // 1-row max(doc_id) twin-shift broadcast
      "x34_skew_report") // 1-row per-family totals broadcast (share calc)
    // Collect per-query failures rather than dying on the first: a single
    // analysis-broken query must not blind the sweep to the other plans
    // (round-9 lesson — the NTZ fixture change hid 128 plans behind one
    // AnalysisException). Node-typed walk, not string matching (round
    // 14): persisted pins embed their BUILD plan text in every
    // consumer's plan string — a pin built WITH a bounded BNLJ (the
    // k-means centroid broadcast) must not flag its consumers.
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val problems = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        val nodes = graft.core.PlanWalk.nodes(
          SparkEntry.queries(name)(spark, dir))
        if (nodes.exists(_.isInstanceOf[CartesianProductExec]))
          Some(s"$name plans a CartesianProduct")
        else if (!boundedBnlj.contains(name) &&
            nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
          Some(s"$name plans a BroadcastNestedLoopJoin off the bounded whitelist")
        else None
      } catch {
        case e: Exception =>
          Some(s"$name fails analysis: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("window sweep: every Window in every query plan carries a partition spec") {
    // Round-8 verdict item 1: x22 ranked the FULL vocab under
    // Window.orderBy() with no partition spec — the one "WindowExec: No
    // Partition Defined … moving all data to a single partition" in the
    // suite (vocab is corpus-dependent, 10^8+ rows at web scale). Now the
    // top-1000 selection is the salted two-phase top-K, whose final
    // re-rank partitions on a constant key over a ≤ 1000·fanout frame.
    // Sweep the whole query surface so the pattern cannot return.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // failure-isolating sweep: report every offender, not just the first
    val problems = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        val bad = SparkEntry.queries(name)(spark, dir)
          .queryExecution.optimizedPlan.collect {
            case w: LWindow if w.partitionSpec.isEmpty => w
          }
        if (bad.nonEmpty)
          Some(s"$name plans an unpartitioned Window (single-partition global sort)")
        else None
      } catch {
        case e: Exception =>
          Some(s"$name fails analysis: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("fp-keyed windows are gone: d13/d25/d28/x19 attach fp stats via agg+join") {
    // Round-14 (r13 verdict item 4): a count/min window partitioned on
    // a content fingerprint serializes a boilerplate mega-fp's whole
    // instance set through ONE window partition — the straggler shape
    // the d32/d33 rewrite eliminated for components. These four were
    // the last fp-partitioned windows; their fp stats now fold by
    // map-side-combined aggregation and join back. Per-doc windows
    // (span merge, CDC chunk ids) remain — those partitions are
    // bounded by a document's own length.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("d13_chunk_dedup", "d25_substring_spans",
        "d28_substring_excision", "x19_cdc_chunks")) {
      val bad = SparkEntry.queries(q)(spark, dir)
        .queryExecution.optimizedPlan.collect {
          case w: LWindow
            if w.partitionSpec.exists(_.references.exists(_.name == "fp")) => w
        }
      assert(bad.isEmpty,
        s"$q still plans a Window partitioned on the fingerprint")
    }
  }

  test("v10_sign_projection: pure rowwise — zero exchanges, codegen'd folds") {
    val p = plan("v10_sign_projection")
    assert(!p.contains("Exchange"), "projection must not shuffle")
    assert(!p.contains("Join"), "projection must not join")
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined,
      s"plan must contain codegen spans:\n$p")
  }

  test("d12_ngram_novelty: one shingle-gen pass — df via clustered window, no join") {
    // Round-10 shape (the j11/d25 pattern): the former docFreq aggregate
    // + shingle-keyed join-back computed the corpus shingle frame twice
    // (differently-pruned branches defeat ReuseExchange) and reshuffled
    // it a third time. Now ONE repartition(shingle) clusters the stream,
    // df attaches as a PARTITIONED window count (the window sweep
    // guards the partition spec), and the per-doc agg is the only other
    // exchange. No join anywhere in the plan.
    val p = plan("d12_ngram_novelty")
    assert(!p.contains("Join"), s"df must ride the window, not a join:\n$p")
    assert("REPARTITION_BY_COL".r.findAllIn(p).size == 1,
      s"exactly one clustering repartition expected:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"the corpus must be scanned once:\n$p")
  }

  test("p9_hash_sample / a15_checksum: java hash stays inside codegen") {
    // execute so AQE finalizes and codegen spans materialize in the plan
    val df = SparkEntry.queries("a15_checksum")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the compact plan
    assert("""\*\(\d+\) HashAggregate.*java_string_hashcode""".r
      .findFirstIn(p).isDefined,
      s"JavaStringHashCode must stay inside a codegen span:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "no UDFs in the hash path")
  }

  test("d29_url_dedup: one hash-agg exchange on the canonical key, text pruned") {
    val p = plan("d29_url_dedup")
    assert(!p.contains("Join"), s"URL dedup is a single aggregation:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one shuffle — the canonical-key agg:\n$p")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert(!p.contains("text#"), "the text column must be pruned at the scan")
  }

  test("j13_phrase_search: query terms broadcast into the posting stream") {
    val p = plan("j13_phrase_search")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both phrase terms must prune postings via broadcast equi-joins:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"),
      s"adjacency must stay an equi-join:\n$p")
  }

  test("j6w_windowed_anti: map-side combine on (w, user), no per-hour clustering") {
    val df = SparkEntry.queries("j6w_windowed_anti")(spark,
      "/root/testdata/sf0.001")
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("REPARTITION_BY_COL"),
      s"no explicit window-only clustering (per-hour hot partition):\n$p")
    assert(p.contains("partial_"),
      s"the (w, user) agg must combine map-side:\n$p")
    assert(p.contains("LeftAnti"), s"spammer exclusion is an anti-join:\n$p")
    // Round 15: ONE corpus agg — the per-window mean re-aggregates the
    // ut exchange (AQE ReusedExchange) instead of re-running the scan +
    // (w, user) partial agg; the explicit user_id-notnull filter at
    // ut's source keeps both planned copies canonically identical
    // (without it, the anti-join's inferred IsNotNull pushed into one
    // copy only and reuse never fired).
    assert(p.contains("ReusedExchange"),
      s"the mean agg must reuse the (w, user) exchange:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      s"two scans only (ev + ut); the mean's own scan must be gone:\n$p")
  }

  test("d32/d33: component sizes via agg+join — no analytic window anywhere") {
    // Round-13 (r11 verdict item 3): count().over(partitionBy(component))
    // buffers a WHOLE component in one window partition — a boilerplate
    // mega-component serializes through one task no AQE feature can
    // split. The d35 agg+join shape (map-side-combined component count,
    // AQE-splittable equi-join back) must be the plan, with no Window
    // operator at all.
    for (q <- Seq("d32_dup_weights", "d33_effective_tokens")) {
      // PlanWalk: the CC pin these consume is persist()-pinned since
      // round 14, so the raw plan string embeds the pin's BUILD plan —
      // assert only on what the query itself executes
      val p = graft.core.PlanWalk.outer(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("Window"),
        s"$q must size components via agg+join, not an analytic window:\n$p")
      assert(p.contains("partial_count") || p.contains("partial_"),
        s"$q component count must combine map-side:\n$p")
    }
  }

  test("v3_knn_lsh: fused cosine stays inside a codegen span, no HOF lambdas") {
    val df = SparkEntry.queries("v3_knn_lsh")(spark, dir)
    df.collect() // finalize AQE so codegen spans materialize
    val p = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*cosine_f32""".r.findFirstIn(p).isDefined,
      s"cosine_f32 must sit inside a WholeStageCodegen Project:\n$p")
    assert(!p.contains("zip_with") && !p.contains("lambdafunction"),
      s"no interpreted higher-order scoring in the kNN hot path:\n$p")
  }

  test("v16_hard_negatives: label filter rides the broadcast scan — no join") {
    val p = plan("v16_hard_negatives")
    assert(!p.contains("Join"),
      s"negatives must come from the broadcast-queries scan, not a join:\n$p")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"the corpus must be scanned once:\n$p")
  }

  test("x29_interp_lm: pin-fed agg+join — no corpus scan, vocab-sized stats joins") {
    // Round-14 shape: see the x14/x16 test — x29 folds its bigram AND
    // unigram totals from the two pinned count frames.
    graft.queries.TextAnalytics.evictCaches(spark)
    val df = SparkEntry.queries("x29_interp_lm")(spark, dir)
    df.collect() // finalize AQE
    val p = graft.core.PlanWalk.outer(df)
    assert(!p.contains("FileScan parquet"),
      s"every input must be a pinned count frame:\n$p")
    assert(!p.contains("Window"),
      s"no per-eval window count over the instance stream:\n$p")
    assert(!p.contains("REPARTITION_BY_COL"),
      s"no explicit clustering repartition:\n$p")
  }

  test("d31_host_filter: rowwise host + broadcast anti-join + one tiny agg") {
    val p = plan("d31_host_filter")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"blocklist must be a broadcast LEFT ANTI join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"exactly one shuffle — the per-host agg:\n$p")
    assert(!p.contains("text#"), "the text column must be pruned at the scan")
  }

  test("x30_dataset_card: one fused scan, no join — the card rides the quality sweep") {
    val df = SparkEntry.queries("x30_dataset_card")(spark, dir)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"the card must be a by-product of ONE corpus pass:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no join — quality and gopher flags come from the same fused scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"at most the distinct-lang + source agg exchanges:\n$p")
  }

  test("x28_classifier_train: gradient aggregates are map-side partial, no UDFs") {
    // the query's own result is a driver-built LocalRelation (the 3
    // collected iterations); the distributed shape to pin is the
    // per-iteration aggregate — rebuild iteration 1's agg and check it
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val feat = graft.core.Tables.documents(spark, dir)
      .select($"lang",
        explode(array(graft.functions.TextFunctions.wsTokens($"text")))
          .as("ts"))
      .filter(size($"ts") > 0)
      .select(when($"lang" === "en", 1.0).otherwise(0.0).as("y"),
        (size($"ts").cast("double") / 50.0).as("x1"))
    val agg = feat.agg(count(lit(1)), sum($"x1".cast("decimal(20,9)")))
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), "gradient agg must combine map-side")
    assert(!p.contains("ScalaUDF"), "feature math must stay codegen")
  }

  test("v19_ivf_increment: assignment never shuffles — one agg exchange, " +
      "broadcast join-back, no sort-merge join") {
    val p = plan("v19_ivf_increment")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "at most the cell-count agg + broadcast prep may exchange:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the cell-count join-back must broadcast, not shuffle the increment")
    assert(p.contains("BroadcastHashJoin"), "join-back must be broadcast")
  }

  test("HOF lint: no plan node repeats a semantically equal higher-order " +
      "subtree") {
    // A higher-order function (transform/filter/aggregate/…) runs its
    // lambda interpreted, once per element per row; a node holding two
    // semantically equal copies pays that twice — x5 rebuilt its trigram
    // array nine times per row. Compute the value once with a fused
    // codegen'd Expression or below a lower Project or Generate.
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    // canonicalized also renumbers lambda variables, so two copies built
    // by separate lambdas compare equal
    val repeating = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try {
        val repeats = graft.core.PlanWalk.nodes(
            SparkEntry.queries(name)(spark, dir)).exists { n =>
          val hofs = n.expressions.flatMap(_.collect {
            case h: HigherOrderFunction => h.canonicalized })
          hofs.distinct.size < hofs.size
        }
        if (repeats) Some(name) else None
      } catch {
        case e: Exception =>
          Some(s"$name fails analysis: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(repeating.isEmpty, "nodes repeat a higher-order subtree:\n" +
      repeating.mkString("\n"))
  }

  test("x5_langid_ngram: ONE fused trigram pass per row, no lambdas") {
    import graft.functions.CharTrigramScoresExpr
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    val nodes = graft.core.PlanWalk.nodes(
      SparkEntry.queries("x5_langid_ngram")(spark, dir))
    val exprs = nodes.flatMap(_.expressions)
    assert(exprs.flatMap(_.collect { case k: CharTrigramScoresExpr => k })
      .size == 1, "the scores struct must be computed once, not per use:\n" +
      nodes.map(_.simpleString(400)).mkString("\n"))
    assert(!exprs.exists(_.exists(_.isInstanceOf[HigherOrderFunction])))
    assert(!nodes.exists(_.nodeName.contains("Exchange")), "x5 is rowwise")
  }

  test("LSH candidate pin: rowwise signatures, no lambda-carrying Generate, " +
      "band and pair exchanges only") {
    import graft.functions.MinHashSigExpr
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    graft.queries.Dedup.evictCaches(spark, Some(dir))
    val pin = graft.queries.Dedup.lshRepCandPairs(spark, dir)
    // the pin's own build plan (its consumers only scan it); its input,
    // the content-group pin, is a leaf of the walk
    val build = graft.core.PlanWalk.nodes(pin).collectFirst {
      case s: InMemoryTableScanExec => s.relation.cachedPlan }.get
    val nodes = graft.core.PlanWalk.nodes(build)
    val shown = nodes.map(_.simpleString(400)).mkString("\n")
    val gens = nodes.collect { case g: GenerateExec => g }
    assert(gens.nonEmpty && gens.forall(g =>
      !g.generator.exists(e => e.isInstanceOf[LambdaFunction] ||
        e.isInstanceOf[HigherOrderFunction])),
      s"band keys and pair emission must carry no lambda:\n$shown")
    assert(nodes.flatMap(_.expressions).flatMap(_.collect {
      case m: MinHashSigExpr => m }).size == 1,
      s"one rowwise signature per rep:\n$shown")
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 2,
      s"one band exchange plus the pair dedupe, nothing keyed on doc_id:\n$shown")
    assert(!nodes.exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[BroadcastHashJoinExec]),
      s"memberships ride the band lists — no join back:\n$shown")
    graft.queries.Dedup.evictCaches(spark, Some(dir))
  }

  test("whole-result guard: a noop write executes a18's Window, count() " +
      "prunes it") {
    // Why no timing path may use count(): Catalyst prunes every column a
    // row count does not need, and a18's trailing-hour Window with them,
    // so a count() time measures less than the query computes. The noop
    // sink consumes every column; its executed plan is captured the way
    // a tracer sees it, from a QueryExecutionListener.
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val writes = new LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.executedPlan match {
          case w: V2TableWriteExec => writes.put(w)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    def windows(p: SparkPlan): Int =
      graft.core.PlanWalk.nodes(p).count(_.isInstanceOf[WindowExec])
    val a18 = SparkEntry.queries("a18_trailing_hour")
    spark.listenerManager.register(listener)
    val written =
      try {
        a18(spark, dir).write.format("noop").mode("overwrite").save()
        writes.poll(60, TimeUnit.SECONDS)
      } finally spark.listenerManager.unregister(listener)
    assert(written != null, "no executed plan captured from the noop write")
    assert(windows(written) > 0,
      s"the noop write must execute a18's Window:\n$written")
    val counted = a18(spark, dir).groupBy().count().queryExecution.executedPlan
    assert(windows(counted) == 0,
      s"count() is expected to prune a18's Window:\n$counted")
  }
}
