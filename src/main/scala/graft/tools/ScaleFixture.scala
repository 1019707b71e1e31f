package graft.tools

import org.apache.spark.sql.SparkSession

/** Scaling-evidence fixture + probe (round-6 verdict item 3): the sf1
  * claims in SCALE.md were design arguments; this measures them.
  *
  * The driver's testdata recipe is not reproducible from here, so the
  * fixture is this module's OWN deterministic generator run at 1× (the
  * sf0.1 shape: 5,000 docs ≈ 300 chars, 2,000×64-d embeddings) and at
  * 10× (the sf1 shape) — both scales come from the SAME generator, so
  * the time ratios isolate data growth from distribution drift. Document
  * statistics mirror the driver corpus: 5 langs at the observed mix,
  * ~40-60 token docs over per-lang Zipf-ish vocabularies, ~5% of docs in
  * planted near-dup clusters (pair + occasional chain for the transitive
  * d7 rows). Embeddings are 8 planted clusters + noise so v6's Lloyd
  * rounds do real work.
  *
  * Generation is fully distributed (`spark.range(n).map`, one seeded RNG
  * per row id — no driver loops, no Math.random), writes
  * `documents.parquet`/`embeddings.parquet` in the Tables layout.
  */
object ScaleFixture {

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
                 n_chars: Long)
  case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  private val langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15,
    "fr" -> 0.15, "de" -> 0.14)

  /** ~5% of docs belong to a near-dup cluster: ids ending in 19/39/59/79
    * copy id-1 with one token mutated (a Jaccard≈0.95 pair); ids ending
    * in 99 ALSO copy id-1, whose id ends in 98... no — chain: id%100==99
    * copies id-2's base (id-2 %100 == 97? not a dup base). Simpler and
    * documented: x9 pairs with x8, and x99 forms a CHAIN x97~x98~x99
    * (three mutations of one base) so d7 gets non-trivial components.
    */
  private def baseId(id: Long): Long = {
    val m = id % 100
    if (m == 19 || m == 39 || m == 59 || m == 79) id - 1
    else if (m == 98 || m == 99) id - (m - 97) // 97~98~99 chain
    else id
  }

  def genDocuments(spark: SparkSession, outDir: String, mult: Int): Unit = {
    import spark.implicits._
    val n = 5000L * mult
    spark.range(n).map { id =>
      val base = baseId(id)
      val rng = new scala.util.Random(base * 2654435761L + 42)
      val langPick = rng.nextDouble()
      val lang = {
        var acc = 0.0
        langs.collectFirst { case (l, w) if { acc += w; langPick < acc } => l }
          .getOrElse("de")
      }
      // Zipf-ish: token k drawn with p ∝ 1/(k+10) over a 2000-word
      // per-lang vocab, 40-60 tokens per doc
      val nTok = 40 + rng.nextInt(21)
      val toks = Array.fill(nTok) {
        val u = rng.nextDouble()
        val k = (math.exp(u * math.log(2000.0 + 10) + (1 - u) * math.log(10.0)) - 10).toInt
        s"${lang}w${math.max(0, math.min(1999, k))}"
      }
      // near-dup: mutate one token position per id-distance from base
      if (base != id) {
        val d = (id - base).toInt
        val rng2 = new scala.util.Random(id * 40503L + 7)
        (0 until d).foreach(_ => toks(rng2.nextInt(nTok)) = s"${lang}mut${rng2.nextInt(1000)}")
      }
      val text = toks.mkString(" ")
      Doc(id, text, lang, "synthetic", text.length.toLong)
    }.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double, props: String)

  private val eventTypes =
    Array("view", "click", "purchase", "signup", "error")

  /** Events in the driver's sf0.1 shape (100k rows, 1,500 users, 5 types
    * uniform, 30-day span, exp-ish values) — 10× densifies the SAME
    * month and 10×es the user base (the sf1 shape), so windowed/session
    * state and as-of merge volume grow with the data while the window
    * count stays fixed, exactly the 100 TB growth direction.
    */
  def genEvents(spark: SparkSession, outDir: String, mult: Int): Unit = {
    import spark.implicits._
    val n = 100000L * mult
    val users = 1500L * mult
    val spanMicros = 30L * 24 * 3600 * 1000000 // 30 days
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in epoch micros
    spark.range(n).map { id =>
      val rng = new scala.util.Random(id * 6364136223846793005L + 97)
      val ts = t0 + (id * (spanMicros / n)) + rng.nextLong(spanMicros / n)
      Ev(id, new java.sql.Timestamp(ts / 1000),
        rng.nextLong(users), eventTypes(rng.nextInt(eventTypes.length)),
        math.rint(-math.log(1.0 - rng.nextDouble()) * 30.0 * 100) / 100,
        s"""{"k": ${rng.nextInt(100)}}""")
    }.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** The x14/x16 SKEW corpus (round-10 verdict item 1): every odd token
    * position is the hot context "the", so ~50% of bigram instances
    * share one w1 — far past the verdict's ≥20% bar. Measures the
    * default window-count shape against the salted fallback where the
    * hot key actually bites.
    */
  def genDocumentsSkew(spark: SparkSession, outDir: String,
      mult: Int): Unit = {
    import spark.implicits._
    val n = 5000L * mult
    spark.range(n).map { id =>
      val rng = new scala.util.Random(id * 2654435761L + 11)
      val nTok = 40 + rng.nextInt(21)
      val toks = Array.tabulate(nTok) { i =>
        if (i % 2 == 1) "the"
        else {
          val u = rng.nextDouble()
          val k = (math.exp(u * math.log(2000.0 + 10) +
            (1 - u) * math.log(10.0)) - 10).toInt
          s"w${math.max(0, math.min(1999, k))}"
        }
      }
      val text = toks.mkString(" ")
      Doc(id, text, "en", "synthetic", text.length.toLong)
    }.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** The x25 HIGH-CARDINALITY quality corpus (round 20, r19 verdict
    * item 2): the standard fixture's ~40-60 token docs over a closed
    * vocab collapse to only ~5k distinct quality doubles at 100× — the
    * regime where exact `percentile`'s value map CANNOT hurt, so the
    * r19 measurement (exact vs approx wall-neutral) never exercised the
    * approx swap's motivation. Here every doc gets a doc-unique
    * punctuation+pad tail — `1 + id%499` punct chars and `id%997` pad
    * chars riding one extra token — so qualityCol's punctuation ratio
    * (punct/len over a doc-unique (punct, len) pair) makes the quality
    * double essentially unique per doc: distinct values grow ∝ docs,
    * which is exactly the state the exact percentile buffers and the
    * approx sketch bounds.
    */
  def genDocumentsHighCard(spark: SparkSession, outDir: String,
      mult: Int): Unit = {
    import spark.implicits._
    val n = 5000L * mult
    spark.range(n).map { id =>
      val rng = new scala.util.Random(id * 2654435761L + 23)
      val nTok = 40 + rng.nextInt(21)
      val toks = Array.tabulate(nTok) { _ =>
        val u = rng.nextDouble()
        val k = (math.exp(u * math.log(2000.0 + 10) +
          (1 - u) * math.log(10.0)) - 10).toInt
        s"w${math.max(0, math.min(1999, k))}"
      }
      val punct = 1 + (id % 499).toInt
      val pad = (id % 997).toInt
      val text = toks.mkString(" ") + " " + ("x" * pad) + ("." * punct)
      Doc(id, text, "en", "synthetic", text.length.toLong)
    }.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  def genEmbeddings(spark: SparkSession, outDir: String, mult: Int): Unit = {
    import spark.implicits._
    val n = 2000L * mult
    val dim = 64
    spark.range(n).map { id =>
      val label = (id % 8).toInt
      val rng = new scala.util.Random(id * 6364136223846793005L + 1442695040888963407L)
      val center = new scala.util.Random(label * 9973L + 3)
      val vec = Array.fill(dim)((center.nextGaussian() * 0.3 +
        rng.nextGaussian() * 0.15).toFloat)
      Emb(id, vec, label)
    }.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Generates both scales then times the scale-sensitive query family
    * on each: the dedup pipeline (d2 pair-gen, d6 materialization, d7
    * components, d10 keeper), x7 (vocab-bounded PMI shuffle), v6
    * (k-means over embeddings). Prints one `scale,<query>,<1x sec>,
    * <10x sec>,<ratio>` line per query — the SCALE.md evidence.
    *
    * Usage: runMain graft.tools.ScaleFixture [root] [mode]
    * mode ∈ all | core (docs/embeddings families) | events (the
    * events-table family, round-10 verdict item 3) | skew (x14/x16
    * default-vs-salted on the hot-context corpus, verdict item 1).
    */
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "/root/repo/.scale"
    val mode = if (args.length > 1) args(1) else "all"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(q: String, dir: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }

    if (mode == "all" || mode == "core") runCore(spark, root, time)
    if (mode == "all" || mode == "events") runEvents(spark, root, time)
    if (mode == "all" || mode == "skew") runSkew(spark, root, time)
    if (mode == "all" || mode == "x25") runX25(spark, root, time)
    // generation-only: the high-cardinality x25 fixture dirs
    if (mode == "x25hc") {
      genDocumentsHighCard(spark, s"$root/hc10", 10)
      genDocumentsHighCard(spark, s"$root/hc100", 100)
      println("x25hc fixtures written: hc10 (50k docs), hc100 (500k docs)")
    }
    if (mode == "decade2") runDecade2(spark, root, time)
    if (mode == "edecade2") runEventsDecade2(spark, root, time)
    // "q:<name>,<name>…" — slope just the named document-family queries
    // (targeted reruns for newly-added ops without the full core sweep)
    if (mode.startsWith("q:")) runNamed(spark, root, time,
      mode.stripPrefix("q:").split(",").toSeq)
    spark.stop()
  }

  /** Second-decade spot run (r10 verdict item 8): the steepest-slope
    * document queries at 10× vs 100× (50k → 500k docs) — the 12×-linear
    * bar had only ever been tested one decade out.
    */
  private def runDecade2(spark: SparkSession, root: String,
      time: (String, String) => Double): Unit = {
    val tenX = s"$root/x10"
    val hundredX = s"$root/x100"
    genDocuments(spark, tenX, 10)
    genDocuments(spark, hundredX, 100)
    val queries = Seq("x14_unigram_logprob", "x16_bigram_logprob",
      "d12_ngram_novelty",
      // round-11 continuation: the current steepest first-decade slopes
      "x17_hash_embedding", "x25_shard_manifest", "x20_dsir_weights",
      "d18_incremental_dedup", "x29_interp_lm",
      // session 2: x31 is the steepest first-decade slope (5.9× — four
      // corpus passes by construction); x32 rides the same loop
      "x31_bpe_merges", "x32_bpe_encode",
      // session-2 ops with non-trivial machinery behind them: the CC
      // pin consumers and the skew diagnostic
      "d33_effective_tokens", "d35_dedup_audit", "x34_skew_report")
    queries.foreach(q => graft.SparkEntry.queries(q)(spark, tenX).count())
    // evict after warmup (the runCore convention): otherwise the 10×
    // side of a pin consumer (d33/d35 ride the CC pin) measures warm
    // while the 100× side pays pair-gen + CC cold — a 19.6× phantom
    // slope that is measurement asymmetry, not scaling
    graft.core.Pins.evict(spark)
    val t10 = queries.map(q => q -> time(q, tenX)).toMap
    val t100 = queries.map(q => q -> time(q, hundredX)).toMap
    queries.foreach { q =>
      println(f"decade2,$q,${t10(q)}%.2f,${t100(q)}%.2f,${t100(q) / t10(q)}%.1f")
    }
  }

  /** x25 exact vs percentile_approx boundary slope (round-10 verdict
    * item 2): the exact aggregate's state grows with distinct quality
    * values; the sketch path should hold ~1×.
    */
  private def runX25(spark: SparkSession, root: String,
      time: (String, String) => Double): Unit = {
    val oneX = s"$root/x1"
    val tenX = s"$root/x10"
    genDocuments(spark, oneX, 1)
    genDocuments(spark, tenX, 10)
    for (shape <- Seq("exact", "approx")) {
      spark.conf.set(graft.queries.TextAnalytics.ApproxBoundariesKey,
        (shape == "approx").toString)
      graft.SparkEntry.queries("x25_shard_manifest")(spark, oneX).count()
      val t1 = time("x25_shard_manifest", oneX)
      val t10 = time("x25_shard_manifest", tenX)
      println(f"x25,$shape,$t1%.2f,$t10%.2f,${t10 / t1}%.1f")
    }
    spark.conf.unset(graft.queries.TextAnalytics.ApproxBoundariesKey)
  }

  /** The events-table family (round-10 verdict item 3): windowed aggs,
    * sessionization, as-of/range joins, and the j6w windowed anti-join —
    * the queries the docs/embeddings fixture could not see.
    */
  /** Events-family second decade (session 2): 10× vs 100× = 1M → 10M
    * events, 15k → 150k users — the events queries' 12×-linear bar had
    * only ever been tested one decade out (the documents family got its
    * second decade in `runDecade2`).
    */
  private def runEventsDecade2(spark: SparkSession, root: String,
      time: (String, String) => Double): Unit = {
    val e10 = s"$root/e10"
    val e100 = s"$root/e100"
    genEvents(spark, e10, 10); genEvents(spark, e100, 100)
    val queries = Seq("w1_tumbling", "a9_session_marker", "j8_range_outage",
      "j6w_windowed_anti", "p22_sessionize", "p23_retention_cohorts")
    queries.foreach(q => graft.SparkEntry.queries(q)(spark, e10).count())
    val t10 = queries.map(q => q -> time(q, e10)).toMap
    val t100 = queries.map(q => q -> time(q, e100)).toMap
    queries.foreach { q =>
      println(
        f"edecade2,$q,${t10(q)}%.2f,${t100(q)}%.2f,${t100(q) / t10(q)}%.1f")
    }
  }

  private def runEvents(spark: SparkSession, root: String,
      time: (String, String) => Double): Unit = {
    val e1 = s"$root/e1"
    val e10 = s"$root/e10"
    genEvents(spark, e1, 1); genEvents(spark, e10, 10)
    val queries = Seq("w1_tumbling", "w2_sliding", "w3_session",
      "a9_session_marker", "a18_trailing_hour", "j7_asof_attribution",
      "j8_range_outage", "p22_sessionize", "j6w_windowed_anti",
      "p23_retention_cohorts")
    queries.foreach(q => graft.SparkEntry.queries(q)(spark, e1).count())
    val t1 = queries.map(q => q -> time(q, e1)).toMap
    val t10 = queries.map(q => q -> time(q, e10)).toMap
    queries.foreach { q =>
      println(f"scale,$q,${t1(q)}%.2f,${t10(q)}%.2f,${t10(q) / t1(q)}%.1f")
    }
  }

  /** x14/x16 on the hot-context corpus, default vs salted shape. */
  private def runSkew(spark: SparkSession, root: String,
      time: (String, String) => Double): Unit = {
    val s1 = s"$root/s1"
    val s10 = s"$root/s10"
    genDocumentsSkew(spark, s1, 1); genDocumentsSkew(spark, s10, 10)
    val queries = Seq("x14_unigram_logprob", "x16_bigram_logprob")
    for (shape <- Seq("default", "salted")) {
      spark.conf.set(graft.queries.TextAnalytics.SaltedSkewKey,
        (shape == "salted").toString)
      queries.foreach(q => graft.SparkEntry.queries(q)(spark, s1).count())
      val t1 = queries.map(q => q -> time(q, s1)).toMap
      val t10 = queries.map(q => q -> time(q, s10)).toMap
      queries.foreach { q =>
        println(f"skew,$q,$shape,${t1(q)}%.2f,${t10(q)}%.2f,${t10(q) / t1(q)}%.1f")
      }
    }
    spark.conf.unset(graft.queries.TextAnalytics.SaltedSkewKey)
  }

  private def runNamed(spark: SparkSession, root: String,
      time: (String, String) => Double, queries: Seq[String]): Unit = {
    val oneX = s"$root/x1"
    val tenX = s"$root/x10"
    genDocuments(spark, oneX, 1); genEmbeddings(spark, oneX, 1)
    genDocuments(spark, tenX, 10); genEmbeddings(spark, tenX, 10)
    queries.foreach(q => graft.SparkEntry.queries(q)(spark, oneX).count())
    graft.core.Pins.evict(spark)
    val t1 = queries.map(q => q -> time(q, oneX)).toMap
    val t10 = queries.map(q => q -> time(q, tenX)).toMap
    queries.foreach { q =>
      println(f"scale,$q,${t1(q)}%.2f,${t10(q)}%.2f,${t10(q) / t1(q)}%.1f")
    }
  }

  private def runCore(spark: SparkSession, root: String,
      time: (String, String) => Double): Unit = {
    val oneX = s"$root/x1"
    val tenX = s"$root/x10"
    genDocuments(spark, oneX, 1); genEmbeddings(spark, oneX, 1)
    genDocuments(spark, tenX, 10); genEmbeddings(spark, tenX, 10)

    val queries = Seq("d2_jaccard_pairs", "d16_containment",
      "d17_edit_verify", "d7_dup_components",
      "d10_best_keeper", "d6_dedup_corpus", "x7_pmi_bigrams", "v6_kmeans",
      "d12_ngram_novelty", "v10_sign_projection", "d13_chunk_dedup",
      "d14_lsh_recall", "v12_knn_multiprobe", "v13_knn_pq_adc",
      "v14_knn_ivf_adc", "p20_weighted_sample", "x13_source_divergence",
      "x14_unigram_logprob", "d15_source_cap", "d18_incremental_dedup",
      "x16_bigram_logprob", "x17_hash_embedding", "t6_cms_heavy_hitters",
      "x18_hll_distinct",
      // round-8 additions over documents/embeddings (the event-table
      // family has its own section — runEvents — since round 11)
      "x19_cdc_chunks", "d19_semantic_dedup", "x20_dsir_weights",
      "j11_bm25", "d20_dup_pagerank", "d21_leakage_split",
      "x21_temperature_mix", "x22_zipf_slope", "x23_hist_quantiles",
      "x24_pii_scrub", "x25_shard_manifest", "d22_snapshot_diff",
      "d23_source_overlap", "d24_normalized_dedup", "x26_gopher_rules",
      "d25_substring_spans", "x27_quality_classifier",
      "d26_lsh_dedup_components", "d27_lsh_keeper",
      // round-11 retrieval additions
      "v15_mmr_rerank", "j12_rrf_fusion",
      // round-11 second batch: URL dedup, contamination report,
      // positional phrase search, distributed classifier training
      "d29_url_dedup", "d30_contamination_report", "j13_phrase_search",
      "x28_classifier_train",
      // round-11 third batch: hard negatives, interpolated LM, host filter
      "v16_hard_negatives", "x29_interp_lm", "d31_host_filter",
      "x30_dataset_card", "d32_dup_weights", "x31_bpe_merges", "v17_pq_train",
      // round-11 fifth batch: cluster-balanced diversity sample,
      // BPE encode (the x31-apply corpus pass), incremental IVF,
      // dedup-aware token budget
      "v18_cluster_sample", "x32_bpe_encode", "v19_ivf_increment",
      "d33_effective_tokens", "x33_oov_rate", "d34_incremental_components",
      "v20_cell_drift", "d35_dedup_audit", "x34_skew_report")
    // warmup (JIT + codegen) on the small scale, untimed
    queries.foreach(q => graft.SparkEntry.queries(q)(spark, oneX).count())
    // warmup must not pre-pay 1x pair-gen, k-means or bm25 pins
    graft.core.Pins.evict(spark)

    // fixed order: d2 then d7 pay pair-gen; d10/d6 reuse the session
    // cache exactly as a curation run would — documented in SCALE.md
    val t1 = queries.map(q => q -> time(q, oneX)).toMap
    val t10 = queries.map(q => q -> time(q, tenX)).toMap
    queries.foreach { q =>
      println(f"scale,$q,${t1(q)}%.2f,${t10(q)}%.2f,${t10(q) / t1(q)}%.1f")
    }
  }
}
