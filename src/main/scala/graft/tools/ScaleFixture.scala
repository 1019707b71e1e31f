package graft.tools

import graft.core.GraftSession
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
    * share one w1 — far past the verdict's ≥20% bar. Measures x14/x16's
    * agg + equi-join plan where the hot key actually bites.
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

  /** Generates both scales of a fixture, then prints one slope row per
    * query: `<label>,<query>,<small sec>,<big sec>,<ratio>` — the
    * SCALE.md evidence. Every timing writes the query's whole result to
    * Spark's `noop` sink (see [[slope]]).
    *
    * Usage: runMain graft.tools.ScaleFixture [root] [mode]
    * mode ∈ all | core (docs/embeddings families, 1× vs 10×) | events
    * (the events-table family) | skew (x14/x16 on the hot-context
    * corpus) | x25 (the exact shard boundaries) | decade2 / edecade2
    * (documents / events at 10× vs 100×) | q:<name>,<name>… (the named
    * document-family queries, 1× vs 10×).
    */
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "/root/repo/.scale"
    val mode = if (args.length > 1) args(1) else "all"
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-scale")
    def docsAndEmbeddings(dir: String, mult: Int): String = {
      genDocuments(spark, dir, mult); genEmbeddings(spark, dir, mult); dir
    }
    def events(dir: String, mult: Int): String = {
      genEvents(spark, dir, mult); dir
    }
    def docs(dir: String, mult: Int): String = {
      genDocuments(spark, dir, mult); dir
    }

    if (mode == "all" || mode == "core")
      slope(spark, "scale", coreQueries,
        docsAndEmbeddings(s"$root/x1", 1), docsAndEmbeddings(s"$root/x10", 10))
    if (mode == "all" || mode == "events")
      slope(spark, "scale", eventQueries,
        events(s"$root/e1", 1), events(s"$root/e10", 10))
    if (mode == "all" || mode == "skew") {
      val (s1, s10) = (s"$root/s1", s"$root/s10")
      genDocumentsSkew(spark, s1, 1); genDocumentsSkew(spark, s10, 10)
      slope(spark, "skew", Seq("x14_unigram_logprob", "x16_bigram_logprob"),
        s1, s10)
    }
    // x25's exact boundary aggregate keeps state ∝ distinct quality values
    if (mode == "all" || mode == "x25")
      slope(spark, "x25", Seq("x25_shard_manifest"),
        docs(s"$root/x1", 1), docs(s"$root/x10", 10))
    // second decade: the steepest first-decade slopes at 10× vs 100×
    if (mode == "decade2")
      slope(spark, "decade2", decade2Queries,
        docs(s"$root/x10", 10), docs(s"$root/x100", 100))
    if (mode == "edecade2")
      slope(spark, "edecade2", Seq("w1_tumbling", "a9_session_marker",
        "j8_range_outage", "j6w_windowed_anti", "p22_sessionize",
        "p23_retention_cohorts"),
        events(s"$root/e10", 10), events(s"$root/e100", 100))
    if (mode.startsWith("q:"))
      slope(spark, "scale", mode.stripPrefix("q:").split(",").toSeq,
        docsAndEmbeddings(s"$root/x1", 1), docsAndEmbeddings(s"$root/x10", 10))
    spark.stop()
  }

  /** Seconds to compute `q`'s whole result on `dir`: the output goes to
    * Spark's `noop` sink, so every projection and Window runs — timing
    * a row count would let Catalyst prune them.
    */
  private def time(spark: SparkSession, q: String, dir: String): Double = {
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(q)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One slope row per query. Warms up on `small` (JIT + codegen,
    * untimed), then evicts every pin the warm-up built, so the `small`
    * side builds its pins cold exactly like the `big` side — a warm
    * small side would show a phantom slope that is measurement
    * asymmetry, not scaling. Queries run in the given fixed order on
    * each side: pin consumers reuse the pins their family's first query
    * built, as a curation run would.
    */
  private def slope(spark: SparkSession, label: String, queries: Seq[String],
      small: String, big: String): Unit = {
    queries.foreach(time(spark, _, small))
    graft.core.Pins.evict(spark)
    val ts = queries.map(time(spark, _, small))
    val tb = queries.map(time(spark, _, big))
    queries.lazyZip(ts).lazyZip(tb).foreach { (q, s, b) =>
      println(f"$label,$q,$s%.2f,$b%.2f,${b / s}%.1f")
    }
  }

  private val eventQueries = Seq("w1_tumbling", "w2_sliding", "w3_session",
    "a9_session_marker", "a18_trailing_hour", "j7_asof_attribution",
    "j8_range_outage", "p22_sessionize", "j6w_windowed_anti",
    "p23_retention_cohorts")

  private val decade2Queries = Seq("x14_unigram_logprob",
    "x16_bigram_logprob", "d12_ngram_novelty",
    // round-11 continuation: the current steepest first-decade slopes
    "x17_hash_embedding", "x25_shard_manifest", "x20_dsir_weights",
    "d18_incremental_dedup", "x29_interp_lm",
    // session 2: x31 is the steepest first-decade slope (5.9× — four
    // corpus passes by construction); x32 rides the same loop
    "x31_bpe_merges", "x32_bpe_encode",
    // session-2 ops with non-trivial machinery behind them: the CC
    // pin consumers and the skew diagnostic
    "d33_effective_tokens", "d35_dedup_audit", "x34_skew_report")

  // fixed order: d2 then d7 pay pair-gen; d10/d6 reuse the session pins
  // exactly as a curation run would — documented in SCALE.md
  private val coreQueries = Seq("d2_jaccard_pairs", "d16_containment",
    "d17_edit_verify", "d7_dup_components",
    "d10_best_keeper", "d6_dedup_corpus", "x7_pmi_bigrams", "v6_kmeans",
    "d12_ngram_novelty", "v10_sign_projection", "d13_chunk_dedup",
    "d14_lsh_recall", "v12_knn_multiprobe", "v13_knn_pq_adc",
    "v14_knn_ivf_adc", "p20_weighted_sample", "x13_source_divergence",
    "x14_unigram_logprob", "d15_source_cap", "d18_incremental_dedup",
    "x16_bigram_logprob", "x17_hash_embedding", "t6_cms_heavy_hitters",
    "x18_hll_distinct",
    // round-8 additions over documents/embeddings (the event-table
    // family is `eventQueries` since round 11)
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
}
