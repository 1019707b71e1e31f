package graft.queries

import graft.core.{Pins, Tables}
import graft.functions.{CharTrigramScoresExpr, HashFunctions, RepetitionStatsExpr, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis over the `documents` corpus — the training-data-pipeline
  * half of the engine (wordcount family from the reference: P1/P2/A1,
  * `MinimalWordCount.scala:36-52`; TF-IDF diamond: J2/J3,
  * `TfIdf.scala:241-297`; plus language-ID, quality scoring, token
  * counting, and fingerprinting for corpus curation).
  *
  * Scale notes: every op is explode → hash-agg or join-on-key; the only
  * shuffles are on (word) / (doc_id) and all tokenization stays inside
  * WholeStageCodegen (no UDFs). At 100 TB the wordcount/TF-IDF shuffles
  * carry (word, partial count) pairs after map-side combine — the vocab,
  * not the corpus.
  */
object TextAnalytics extends QueryModule {

  /** x20's designated target domain (the DSIR "high-quality" side). */
  private val DsirTarget = "src0"

  /** Char-trigram profiles for the n-gram language-ID variant. */
  private val charProfiles: Seq[(String, Seq[String])] =
    CharTrigramScoresExpr.Profiles

  /** Per-language stopword profiles for the n-gram/token language-ID
    * heuristic (tiny, broadcast as literals into codegen).
    */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"),
    "es" -> Seq("el", "los", "las", "y", "es", "este", "una", "de"))

  /** `docs` plus `toks`, the doc's whitespace tokens, split ONCE per row:
    * every per-doc text signal (token counts, [[qualityCol]],
    * [[withLangHits]], [[gopherDocFrame]]'s rules) reads this attribute.
    * explode(array(...)) is a Generate barrier (x8's pattern): a lower
    * Project alone stops CollapseProject, but a filter on a signal would
    * still be pushed below it with the split inlined once per use.
    */
  private[graft] def withToks(docs: DataFrame): DataFrame =
    docs.select(col("*"),
      explode(array(TextFunctions.wsTokens(col("text")))).as("toks"))

  /** x3's composite [0,1] quality score — the ONE definition, a pure
    * function of three per-doc signals (x3, d8, x15, x25, x30, Dedup's
    * keeper election, the curation main).
    */
  private[graft] def qualityOf(stopRatio: Column, nToks: Column,
      punctRatio: Column): Column =
    stopRatio * lit(0.4) +
      least(nToks.cast("double") / lit(80.0), lit(1.0)) * lit(0.3) +
      (lit(1.0) - punctRatio) * lit(0.3)

  /** [[qualityOf]] over the signals of a [[withToks]] row. */
  private[graft] def qualityCol(toks: Column, text: Column): Column =
    qualityOf(TextFunctions.stopwordRatio(toks), size(toks),
      TextFunctions.punctRatio(text))

  /** Per-doc Gopher-gate frame shared by x26 and x30: ONE fused
    * repetition-stats scan (the x8 Generate-barrier pattern) producing
    * the six rule booleans plus the doc's rollup columns (doc_id,
    * source, lang, token count n, x3 quality). Consumers select what
    * they need — Catalyst prunes the rest, so x26 never pays for the
    * quality expression it doesn't read.
    */
  private[graft] def gopherDocFrame(docs: DataFrame): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    withToks(docs)
      .select($"doc_id", $"source", $"lang", $"text", $"toks",
        explode(array(RepetitionStatsExpr.repetitionStats($"text")))
          .as("r")) // Generate barrier: ONE stats scan (x8 pattern)
      .select($"doc_id", $"source", $"lang",
        qualityCol($"toks", $"text").as("quality"),
        $"r.n_tokens".cast("long").as("n"),
        $"r.n_distinct".cast("long").as("nd"),
        aggregate($"toks", lit(0L), (a, w) => a + length(w)).as("sumlen"),
        size(filter($"toks", w => w.rlike("[A-Za-z]"))).cast("long")
          .as("alpha_n"),
        // the distinct-stopword count: array_intersect runs no lambda
        size(array_intersect(TextFunctions.stopWordsArray, $"toks"))
          .cast("long").as("stop_n"),
        length($"text").cast("long").as("n_chars"),
        (length($"text") -
          length(regexp_replace($"text", "[#…]", ""))).cast("long")
          .as("sym_n"))
      .select($"doc_id", $"source", $"lang", $"quality", $"n",
        ($"n" >= 50 && $"n" <= 100000).as("r_len"),
        ($"n" > 0 && $"sumlen" >= $"n" * 3 && $"sumlen" <= $"n" * 10)
          .as("r_wordlen"),
        ($"n" > 0 && $"alpha_n" * 5 >= $"n" * 4).as("r_alpha"),
        ($"stop_n" >= 2).as("r_stop"),
        ($"n_chars" === 0 || $"sym_n" * 10 <= $"n_chars").as("r_symbol"),
        ($"n" > 0 && ($"n" - $"nd") * 10 <= $"n" * 3).as("r_rep"))
  }

  /** The composite Gopher verdict over [[gopherDocFrame]]'s flags. */
  private[graft] def gopherPass: Column =
    col("r_len") && col("r_wordlen") && col("r_alpha") && col("r_stop") &&
      col("r_symbol") && col("r_rep")

  /** (doc_id, lang, source, text, n_toks, quality, shard) — the x25
    * curriculum shard assignment: shard = quality OCTILE from ONE exact
    * percentile aggregate broadcast as a 1-row boundary frame (the x15
    * decile machinery at n=8; never a global-sort ntile). Octile
    * fractions k/8 are exactly representable doubles, so boundaries are
    * bit-identical cross-engine. Shared by the `x25_shard_manifest`
    * oracle query and the physical writer `io/TrainExport`.
    *
    * Scale note: exact `percentile` keeps a value map ∝ distinct
    * quality doubles (∝ docs — measured 6.0× at the fixture's 10×), and
    * exact is what DuckDB's `quantile_cont` replays bit for bit. A
    * `percentile_approx` form (bounded mergeable state) measured
    * wall-neutral at 10× and 100× (SCALE.md), so it is not carried.
    */
  private[graft] def curriculumFrame(s: SparkSession, dir: String): DataFrame =
    curriculumFrameOf(Tables.documents(s, dir))

  /** [[curriculumFrame]] over an arbitrary docs frame (doc_id, lang,
    * source, text) — octile boundaries derive from the GIVEN corpus, so
    * a curated subset re-balances its own shards (the curation
    * pipeline's export path).
    */
  private[graft] def curriculumFrameOf(docs: DataFrame): DataFrame = {
    val scored = withToks(docs)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(col("toks")).cast("long").as("n_toks"),
        qualityCol(col("toks"), col("text")).as("quality"))
    val bounds = scored.agg(percentile(col("quality"),
      array((1 to 7).map(i => lit(i / 8.0)): _*)).as("bs"))
    scored.crossJoin(broadcast(bounds)) // 1-row boundary frame
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_toks"), col("quality"),
        aggregate(col("bs"), lit(0L),
          (acc, b) => acc + when(col("quality") > b, 1L).otherwise(0L))
          .as("shard"))
  }

  // -------------------- x14/x16/x29 LM-score plan ---------------------
  //
  // Round 14: the LM scores read the session-pinned per-doc count
  // frames ([[sharedPostings]] / [[sharedBigrams]]) — the corpus
  // tokenize + explode + (doc, term) aggregation runs ONCE per session
  // and corpus, charged to the family's first consumer; every LM score
  // evaluation after that is vocab-sized work over the pin. This closes
  // the r13 weak list's largest block (x14 9.5× / x16 5.5× / x29 3.6×
  // DuckDB): the old shapes re-shuffled the corpus token/bigram INSTANCE
  // stream and re-counted term totals under a term-keyed analytic window
  // on every evaluation. The per-doc agg on (doc_id, term) is the skew
  // bound for the pin build itself: doc_id spreads any hot term across
  // all map partitions and the map-side partials bound the shuffle to
  // distinct (doc, term) pairs.
  //
  // The plan: global term totals fold FROM the pin by two-phase
  // partial aggregation (each final group receives at most one partial
  // row per map partition, whatever the term's corpus share), then the
  // vocab-sized stats frame joins back onto the pin on the bare term
  // key. The join strategy stays size-selected — broadcast while the
  // vocab fits, shuffle-join past that — and a Zipf-hot term's join
  // partition CAN be split by AQE skew-join handling (unlike the
  // analytic window this shape replaced). PlanSpec pins the join keys.

  // ------------------- j11/j12 pinned retrieval family ----------------

  /** The ONE pinned BM25 rank frame per (session, dir) — j11's result
    * and j12's sparse input (the `Dedup.sharedJaccardPairs` /
    * `Similarity.sharedKmeansAssign` session-pin doctrine applied to
    * retrieval). The pinned frame is ≤ n_queries×10 rows — pinning it
    * is free at any corpus scale; what it saves is re-running the whole
    * retrieval plan (two corpus scans + the posting shuffle) once per
    * consumer. `Pins.evict` releases the blocks.
    */
  private[graft] def bm25Ranks(s: SparkSession, dir: String): DataFrame =
    Pins.frame("bm25_ranks", s, Some(dir))(bm25Plan(s, dir))

  // ------------- shared tokenized-corpus pins (round 13) --------------

  /** The ONE whitespace-token posting frame per (session, corpus plan):
    * (doc_id, source, len_d, w, n_dw) — the (doc, term) aggregate that
    * every unigram consumer (j11's BM25 hits and length totals, x14's
    * LM score, x20's DSIR weights, x16/x29's vocab side) previously
    * rebuilt from its own corpus scan + tokenize + explode. Pinned via
    * persist(MEMORY_AND_DISK) — NOT localCheckpoint (round 14): the
    * persisted plan keeps its lineage, so a lost executor's blocks
    * recompute instead of failing every consumer (PinRecoverySpec pins
    * the behavior; the Mains.scala k-means fix, same argument), and
    * `Dataset.unpersist` actually releases the blocks on eviction.
    * O(distinct (doc, term)) storage is the documented trade:
    * `Pins.evict` releases it. `source` rides along when the input
    * has it (x20 keys its target/reference LMs on it); planted spec
    * corpora without the column get a null.
    */
  private[graft] def sharedPostings(docs: DataFrame): DataFrame =
    Pins.frame("postings", docs.sparkSession, None, Pins.planDigest(docs)) {
      import docs.sparkSession.implicits._
      val src = if (docs.columns.contains("source")) $"source"
                else lit(null).cast("string").as("source")
      docs
        .select($"doc_id", src,
          explode(array(TextFunctions.wsTokens($"text"))).as("ts"))
        .filter(size($"ts") > 0)
        .select($"doc_id", $"source", size($"ts").cast("long").as("len_d"),
          explode($"ts").as("w"))
        // pin PARTITIONED BY doc_id (the bucketing-alongside-the-data
        // trade): doc_id is a subset of every per-doc group key, so each
        // LM consumer's final groupBy(doc_id) reads the cached
        // partitioning and plans NO exchange of its own. Round 21
        // (guide §2.4): repartition BEFORE the aggregate — hash(doc_id)
        // satisfies the agg's clustered distribution on
        // (doc_id, source, len_d, w), so the (doc, term) fold rides the
        // SAME exchange and the build pays ONE corpus exchange, not two
        // (the former agg-then-repartition shipped the aggregated frame
        // through a second full exchange just to change its key).
        .repartition($"doc_id")
        .groupBy($"doc_id", $"source", $"len_d", $"w")
        .agg(count(lit(1)).as("n_dw"))
    }

  /** The ONE whitespace-token bigram frame per (session, corpus plan):
    * (doc_id, w1, w2, n_dw). Same pin doctrine as [[sharedPostings]];
    * consumed by x16 and x29 (which previously each rebuilt the corpus
    * bigram instance stream).
    */
  private[graft] def sharedBigrams(docs: DataFrame): DataFrame =
    Pins.frame("bigrams", docs.sparkSession, None, Pins.planDigest(docs)) {
      import docs.sparkSession.implicits._
      docs
        .select($"doc_id", TextFunctions.wsTokens($"text").as("ts"))
        .filter(size($"ts") >= 2)
        .select($"doc_id", explode(
          transform(sequence(lit(1), size($"ts") - 1),
            i => struct(element_at($"ts", i).as("w1"),
              element_at($"ts", i + 1).as("w2")))).as("b"))
        .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
        // the sharedPostings bucketing trade, round-21 one-exchange form:
        // repartition(doc_id) first, the (doc, w1, w2) fold rides it
        .repartition($"doc_id")
        .groupBy($"doc_id", $"w1", $"w2")
        .agg(count(lit(1)).as("n_dw"))
    }

  // ---------------- pinned corpus LM statistics (round 14) ------------
  //
  // The global term/bigram totals are corpus-level statistics just like
  // the count frames they fold from — computing them per EVALUATION put
  // a 3-4-stage fold (vocab agg + exchange + 1-row distinct agg) in
  // front of every LM score, and at the 116k-row fixture that fold IS
  // the measured cost (~0.2 s/stage of pure stage floor at local[32];
  // the data work is microseconds). Pinning them drops a warm LM score
  // to: pinned count scan → broadcast stats join → 2-phase doc agg.
  // The 1-row corpus totals (n_c, V) are COLLECTED at pin-build time —
  // constant-bounded, the j5 singleton-side-input doctrine — and
  // re-enter the score expressions as literals Catalyst constant-folds,
  // arithmetic-identical to the broadcast 1-row frame they replace.

  /** Pinned (w, n_w) term totals + the collected (n_c, V) corpus
    * totals, folded ONCE per (session, corpus plan) from
    * [[sharedPostings]] by two-phase partial aggregation. One pin builds
    * both: it pins the counts frame and runs the 1-row totals job.
    */
  private[graft] def sharedTermStats(docs: DataFrame): (DataFrame, Long, Long) = {
    val key = Pins.planDigest(docs)
    Pins.get("term_stats", docs.sparkSession, None, key) {
      val cw = Pins.frame("term_counts", docs.sparkSession, None, key) {
        sharedPostings(docs).groupBy(col("w")).agg(sum(col("n_dw")).as("n_w"))
      }
      val r = cw.agg(sum(col("n_w")), count(lit(1))).head() // 1 row
      (cw, if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    }
  }

  /** Pinned (w1, w2, c12, c1) bigram/context totals, folded ONCE per
    * (session, corpus plan) from [[sharedBigrams]]. The (w1)-keyed c1
    * fold is vocab × vocab — never corpus-sized.
    */
  private[graft] def sharedBigramStats(docs: DataFrame): DataFrame =
    Pins.frame("bigram_stats", docs.sparkSession, None, Pins.planDigest(docs)) {
      val c12 = sharedBigrams(docs)
        .groupBy(col("w1"), col("w2")).agg(sum(col("n_dw")).as("c12"))
      c12.join(c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1")), "w1")
    }

  /** Forwards to [[graft.core.Pins.evict]] (see `Dedup.evictCaches`). */
  def evictCaches(session: SparkSession, dir: Option[String] = None): Unit =
    Pins.evict(session, dir)

  /** The j11 retrieval plan (see the scale notes on the `j11_bm25`
    * queries-map entry — this is that plan verbatim, factored out so
    * [[bm25Ranks]] can pin its result once per (session, dir)).
    */
  private[graft] def bm25Plan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // Round 13: the corpus side reads the SESSION-PINNED posting frame
    // (doc_id, len_d, w, n_dw) — see [[sharedPostings]] — instead of
    // re-tokenizing the corpus in two branches. The pin intrinsically
    // holds docs with ≥1 token only, which is exactly the universe the
    // oracle's (doc, w) counts derive n_docs/avglen from (round-10
    // ADVICE), so the totals agree by construction on any fixture.
    val posts = sharedPostings(Tables.documents(s, dir))
    val tot = posts.groupBy($"doc_id").agg(first($"len_d").as("len_d"))
      .agg(count(lit(1)).as("n_docs"),
        (sum($"len_d").cast("double") / count(lit(1))).as("avglen"))
    // DISTINCT (qid, w) ≡ per-row array_distinct of the 3-token slice
    // (qid IS doc_id) — rowwise, so the query branch is a pushed-
    // filter scan + project with NO exchange, directly broadcastable
    // (an A/B probe of collecting the ≤15 rows to a LocalRelation
    // measured no gain — the collect job costs the stage it saves)
    val q = Tables.documents(s, dir).filter($"doc_id" < 5)
      .select($"doc_id".as("qid"),
        explode(array_distinct(
          slice(TextFunctions.wsTokens($"text"), 1, 3))).as("w"))
    val hits = posts
      .select($"doc_id", $"len_d", $"w", $"n_dw") // pinned (doc, w) counts
      .join(broadcast(q), "w")
      .repartition($"qid") // the ONE shuffle — see plan note above
      // one row per (qid, w, posting) ⇒ count over (qid, w) = df(w)
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy($"qid", $"w")))
    val scored = hits
      .crossJoin(broadcast(tot)) // 1-row (n_docs, avglen)
      .select($"qid", $"doc_id",
        round(
          round(log(lit(1.0) +
              ($"n_docs".cast("double") - $"df" + lit(0.5)) /
              ($"df" + lit(0.5))), 9) *
            (($"n_dw" * lit(1.2 + 1)) /
             ($"n_dw".cast("double") + lit(1.2) *
               (lit(1 - 0.75) + lit(0.75) *
                 $"len_d".cast("double") / $"avglen"))), 9)
          .cast("decimal(28,12)").as("term"))
      .groupBy($"qid", $"doc_id")
      .agg(round(sum($"term").cast("double"), 6).as("score"))
    graft.operators.KeyedOps.topKPerKey(scored, Seq($"qid"),
        Seq($"score".desc, $"doc_id"), 10)
      .select($"qid", $"doc_id", $"score", $"rank")
  }

  /** x14 core — per-doc unigram-LM mean log-probability
    * logp(w) = ln((n_w + 1)/(n_c + V)) weighted by the doc's own term
    * counts, over an arbitrary (doc_id, text) frame. ln parity:
    * per-term double rounded to 9, decimal accumulation, final round 6
    * (the x13 convention).
    */
  private[graft] def unigramLogprob(docs: DataFrame): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    // the pinned (doc, term) counts — the ONLY corpus-sized input; the
    // tokenize chain behind it runs once per session (shape note above)
    val dw = sharedPostings(docs).select($"doc_id", $"w", $"n_dw")
    // pinned vocab-sized term totals + the collected 1-row corpus
    // totals (n_c, V) — corpus statistics, computed once per session
    val (cw, nC, v) = sharedTermStats(docs)
    dw.join(cw, "w") // size-selected; AQE-splittable on a hot w
      .select($"doc_id", $"n_dw",
        round($"n_dw".cast("double") *
            (log(($"n_w" + 1).cast("double")) -
             log(lit(nC + v).cast("double"))), 9)
          .cast("decimal(28,12)").as("term"))
      .groupBy($"doc_id")
      .agg(sum($"n_dw").as("n_tokens"),
        round(sum($"term").cast("double") / sum($"n_dw").cast("double"), 6)
          .as("mean_logprob"))
  }

  /** x16 core — per-doc bigram-LM mean log-probability
    * p(w2|w1) = (c(w1,w2) + 1)/(c(w1) + V). Same plan as
    * [[unigramLogprob]]; V is the unigram vocab size (its own 1-row
    * distinct agg — single-token docs contribute vocabulary but no
    * bigram, so V cannot fold from the bigram stream). Docs with
    * < 2 tokens have no bigrams and no row.
    */
  private[graft] def bigramLogprob(docs: DataFrame): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    // pinned per-doc bigram counts + pinned (w1, w2, c12, c1) totals;
    // V comes from the unigram stats pin (single-token docs contribute
    // vocabulary but no bigram, so V cannot fold from the bigram
    // stream) as a collected literal
    val db = sharedBigrams(docs)
    val v = sharedTermStats(docs)._3
    val stats = sharedBigramStats(docs)
    db.join(stats, Seq("w1", "w2"))
      .select($"doc_id", $"n_dw",
        round($"n_dw".cast("double") *
            (log(($"c12" + 1).cast("double")) -
             log(($"c1" + lit(v)).cast("double"))), 9)
          .cast("decimal(28,12)").as("term"))
      .groupBy($"doc_id")
      .agg(sum($"n_dw").as("n_bigrams"),
        round(sum($"term").cast("double") / sum($"n_dw").cast("double"), 6)
          .as("mean_logprob"))
  }

  /** PII patterns (the RE2 ∩ java.util.regex common subset — character
    * classes only) and the scrub transform, shared by `x24_pii_scrub`'s
    * audited query and the curation pipeline main.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"

  private[graft] def piiScrub(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]")

  /** Total PII matches (emails + phones) in a text column. */
  private[graft] def piiCount(c: Column): Column =
    (size(regexp_extract_all(c, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(c, lit(PhoneRe), lit(0)))).cast("long")

  /** The 8-row manifest of a [[curriculumFrame]] export — per-shard
    * doc/token totals, quality range, and an order-insensitive
    * Σ knuthHash(doc_id) id-checksum a resumed or re-run export is
    * verified against (column pruning drops `text` here, so the
    * manifest pass never carries the corpus bytes).
    */
  private[graft] def shardManifest(frame: DataFrame): DataFrame =
    frame
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        round(min(col("quality")), 6).as("q_min"),
        round(max(col("quality")), 6).as("q_max"),
        sum(HashFunctions.knuthHash(col("doc_id"))).as("id_checksum"))

  /** A [[withToks]] frame plus `h`, the struct of per-language
    * stopword-profile hit counts of its `toks` (profile order), in its
    * own Project: CollapseProject does not inline a non-cheap value its
    * consumer reads more than once, so each profile filter runs once per
    * row, not once per read in [[predLang]]'s CASE.
    */
  private def withLangHits(frame: DataFrame): DataFrame =
    frame.select(col("*"), struct(langProfiles.map { case (lang, words) =>
      size(filter(col("toks"),
        w => array_contains(array(words.map(lit): _*), w))).as(lang)
    }: _*).as("h"))

  /** [[withLangHits]]' hit counts, profile order. */
  private val langHitCols: Seq[Column] =
    langProfiles.map { case (lang, _) => col(s"h.$lang") }

  /** Profile-hit argmax with deterministic profile-order tiebreak — the
    * ONE language prediction rule, shared by x2 and d8.
    */
  private def predLang: Column = {
    val Seq(en, de, fr, es) = langHitCols
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** x11's shard count — the packing op's parallelism. Derived once per
    * JVM from the session's parallelism (d5's derived-constant pattern)
    * instead of a fixed literal that would cap the window parallelism at
    * 8×n_langs on any cluster. The
    * value is then embedded as a LITERAL in both the query and the oracle
    * SQL (p19's threshold pattern), so the doc_id→shard assignment stays
    * deterministic and DuckDB replays it exactly. `lazy val`: the query
    * build and the oracle dump of one run read the SAME computed value.
    */
  private[queries] lazy val packShards: Long = {
    val n = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.defaultParallelism.toLong)
      .getOrElse(Runtime.getRuntime.availableProcessors().toLong)
    math.max(1L, n)
  }

  override def queries: Map[String, Q] = Map(
    // D8: the composed curation funnel a pretraining pipeline actually
    // runs — quality-filter, then exact-dedup the survivors (keep the
    // min doc_id per content digest), then per-predicted-language corpus
    // stats. One rowwise scoring pass and two hash-agg shuffles (digest,
    // then pred_lang); both keys are data-parallel at any corpus size.
    // lang/quality are functions of the text, so min() over a digest
    // group is exact (all members identical) — no nondeterministic
    // first()/any_value() in the keep rule.
    "d8_corpus_curation" -> { (s, dir) =>
      import s.implicits._
      withLangHits(withToks(Tables.documents(s, dir)))
        .select($"doc_id", $"lang", $"text", predLang.as("pred_lang"),
          qualityCol($"toks", $"text").as("quality"))
        .filter($"quality" >= 0.3)
        .groupBy(md5($"text".cast("binary")).as("digest"))
        .agg(min($"doc_id").as("keeper"), min($"lang").as("lang"),
          min($"pred_lang").as("pred_lang"), min($"quality").as("quality"))
        .groupBy($"lang", $"pred_lang") // labeled-vs-predicted matrix
        .agg(count(lit(1)).as("n_docs"),
          // decimal accumulation (package.scala parity note); scale 6
          // matches the engine-wide dsum convention
          sum($"quality".cast("decimal(22,6)")).cast("double").as("sq"))
        .select($"lang", $"pred_lang", $"n_docs",
          ($"sq" / $"n_docs").as("mean_quality"))
    },

    // X6: exact per-language token-count quantiles — the corpus length
    // profile a curation pipeline reports. Exact interpolated percentile
    // (not approx_percentile): one hash-agg shuffle on lang; DuckDB
    // quantile_cont uses the same rank = q*(n-1) linear interpolation,
    // so the doubles match bit-for-bit.
    "x6_length_quantiles" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"lang",
          size(TextFunctions.wsTokens($"text")).cast("bigint").as("n_tokens"))
        .groupBy($"lang")
        .agg(percentile($"n_tokens", lit(0.5)).as("p50"),
          percentile($"n_tokens", lit(0.9)).as("p90"),
          percentile($"n_tokens", lit(0.99)).as("p99"),
          count(lit(1)).as("n_docs"))
    },

    // P19: stratified deterministic sampling — per-language keep rates
    // (downsample the dominant language, keep the tail), decided by the
    // portable Knuth hash of doc_id. Pure rowwise filter + one count
    // shuffle; sampling decisions are reproducible row-by-row in any
    // engine, which is what makes dataset mixes auditable.
    "p19_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      // per-stratum rates through hashSample — ONE source of truth for
      // the threshold (frac*2^32 TRUNCATED at driver time; the oracle
      // embeds the same literals, since DuckDB's CAST would round)
      Tables.documents(s, dir)
        .filter(when($"lang" === "en",
            HashFunctions.hashSample($"doc_id", 0.1))
          .otherwise(HashFunctions.hashSample($"doc_id", 0.5)))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_sampled"), min($"doc_id").as("first_kept"))
    },

    // P20: WEIGHTED without-replacement sampling via integer lottery —
    // each doc gets w tickets (w = its source's priority 1..4, the x12
    // convention), each ticket a portable knuth hash, and the k docs
    // with the smallest minimum ticket win per language. P(win) rises
    // with w (the classic min-of-w-uniforms race), selection is exact
    // integer arithmetic — fully auditable and oracle-replayable, unlike
    // pow/exp-keyed weighted reservoirs whose libm doubles diverge
    // across engines. Rowwise ticket computation + one top-k per lang
    // (window over k·n_lang survivors after partial filtering at scale
    // via topKPerKey's shape). Ticket inputs are doc_id*131+r with
    // r ≤ 4 < 131, so distinct docs never share a ticket key.
    "p20_weighted_sample" -> { (s, dir) =>
      import s.implicits._
      val w = (expr("try_cast(substring(source, 4) AS INT)") % 4 + 1)
      val keyed = Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"source", w.as("w"))
        .withColumn("ticket", aggregate(
          transform(sequence(lit(1), $"w"),
            r => HashFunctions.knuthHash($"doc_id" * 131 + r)),
          lit(4294967296L), (acc, x) => least(acc, x)))
      graft.operators.KeyedOps.topKPerKey(keyed, Seq($"lang"),
          Seq($"ticket".asc, $"doc_id".asc), 10)
        .select($"lang", $"doc_id", $"source", $"w", $"ticket", $"rank")
    },

    // J9: inverted-index build — word -> sorted posting list + document
    // frequency, the search/contamination-check index shape. One shuffle
    // keyed on the word; posting lists are per-word (vocab-bounded
    // groups), stringified for a stable oracle compare. At 100 TB the
    // shuffle carries (word, doc_id) pairs after distinct — the index,
    // not the corpus.
    "j9_inverted_index" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", explode(TextFunctions.tokenize($"text")).as("word"))
        .distinct()
        .groupBy($"word")
        .agg(count(lit(1)).as("df"),
          array_join(sort_array(collect_list($"doc_id")), ",").as("postings"))
    },

    // J11: BM25 ranked retrieval — the lexical serving path the
    // inverted index (j9) exists for, and the keyword complement of the
    // vector ANN family (v3/v12/v14): Okapi BM25 with k1=1.2, b=0.75,
    // IDF = ln(1 + (N − df + 0.5)/(df + 0.5)). Queries are
    // query-by-example: the first 3 tokens of docs 0–4 (qid = doc_id) —
    // derived from the data, so the oracle replays them. Plan
    // (round-10): ZERO corpus-sized shuffles. The round-9 shape built a
    // full (doc, w) counts aggregate — a corpus-token-sized exchange —
    // and derived everything from it; at 100 TB that shuffle IS the
    // query cost, and it only existed to serve ≤15 query terms. Now the
    // ≤15-term query set broadcasts INTO the token stream before any
    // aggregation, so the only post-scan shuffle is ONE repartition of
    // the hits stream by qid (∝ query-term postings, never the corpus);
    // hashpartitioning(qid) satisfies the clustered-distribution
    // requirement of EVERY downstream operator (the (qid,w,doc) n_dw
    // agg, the df window over (qid,w), the (qid,doc) score sum, and the
    // top-10 rank — qid is a prefix of each one's keys), so Catalyst
    // inserts no further exchange and the whole scoring pipeline is a
    // single post-shuffle stage. df(w) is a window count over hits
    // (one row per posting per (qid, w)). Since round 13 the corpus
    // side reads the session-pinned posting frame — the only parquet
    // read left is the pushed-filter query branch (PlanSpec asserts
    // the shape).
    // Parallelism is bounded by the query count; at real scale you'd
    // repartition by (qid, w) and pay two more tiny exchanges, but the
    // corpus-side cost is identical. Double parity:
    // IDF ln round-9 (x13 convention), the TF fraction is pure IEEE
    // double arithmetic written in the same operation order in both
    // engines, per-term product round-9, decimal sum, final round-6.
    // Round 13: the rank frame is session-PINNED (the Dedup.sharedJaccard-
    // Pairs / Similarity.sharedKmeansAssign doctrine applied to
    // retrieval): j11 fronts ONE bm25Plan evaluation per (session, dir)
    // and j12's sparse side consumes the same ≤(n_queries×10)-row pinned
    // frame instead of re-running the whole retrieval plan inline
    // (round-12 verdict: j12 paid j11's full 1.1 s again).
    "j11_bm25" -> ((s, dir) => bm25Ranks(s, dir)),

    // J12: hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    // 2009) — the production recipe for combining a lexical (BM25) and
    // a dense (embedding-cosine) retriever without score calibration:
    // rrf(d) = Σ_lists 1/(60 + rank_list(d)), summed over the lists
    // that retrieved d. Query set = docs 0-4, querying by their own
    // leading tokens (the j11 sparse side, self included) and by their
    // own embedding (doc_id ≡ vec_id in the fixture corpus, self
    // included) — "more like this document" over both signals.
    // Scale shape: the sparse side is j11's session-PINNED rank frame
    // (≤ n_queries×10 rows — bm25Ranks runs the retrieval plan once per
    // (session, dir) for the whole family); the
    // dense side is v1's broadcast-queries codegen scan (no corpus
    // shuffle); the fusion itself is a full-outer join of two
    // ≤(n_queries×10)-row rank frames — bounded at any corpus size.
    // Rank reciprocals are exact small-int divisions (1.0/61 …), so the
    // fused ordering is IEEE-identical in both engines by construction
    // — no decimal laundering needed, unlike the BM25 scores.
    "j12_rrf_fusion" -> { (s, dir) =>
      import s.implicits._
      val sparse = bm25Ranks(s, dir) // the session-pinned j11 frame
        .select($"qid", $"doc_id", $"rank".as("r_s"))
      val corpus = Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      val bcq = s.sparkContext.broadcast(
        corpus.filter(_._1 < 5).collect())
      val dscored = corpus.mapPartitions { it =>
        val qs = bcq.value
        it.flatMap { case (id, e) =>
          qs.iterator.map { case (qid, qe) =>
            (qid, id, graft.functions.VectorFunctions.cosineJvm(qe, e))
          }
        }
      }.toDF("qid", "doc_id", "sim")
      val dense = graft.operators.KeyedOps.topKPerKey(dscored,
          Seq($"qid"), Seq($"sim".desc, $"doc_id"), 10)
        .select($"qid", $"doc_id", $"rank".as("r_d"))
      // rrf(d) = Σ_lists 1/(60+rank) is a keyed SUM, so fuse by
      // union + ONE (qid, doc_id) hash agg rather than a full-outer
      // join (which pays two sorted shuffle branches + the join
      // operator for the same arithmetic). IEEE parity with the
      // oracle's coalesce(a,0)+coalesce(b,0) is exact: a list
      // contributes at most one row per (qid, doc_id), addition of
      // ≤2 doubles is order-insensitive (commutativity holds in
      // IEEE; only associativity fails, and it needs ≥3 terms).
      val contribs = sparse
        .select($"qid", $"doc_id", (lit(1.0) / (lit(60) + $"r_s")).as("c"))
        .union(dense
          .select($"qid", $"doc_id", (lit(1.0) / (lit(60) + $"r_d")).as("c")))
      val fused = contribs.groupBy($"qid", $"doc_id")
        .agg(sum($"c").as("rrf"))
      graft.operators.KeyedOps.topKPerKey(fused, Seq($"qid"),
          Seq($"rrf".desc, $"doc_id"), 10)
        .select($"qid", $"doc_id", round($"rrf", 9).as("rrf"), $"rank")
    },

    // X7: bigram PMI — collocation strength of consecutive token pairs
    // (the n-gram LM / contamination-fingerprint table). Three hash aggs
    // (bigrams, unigrams, total) + two vocab-sized joins; ln rounded to
    // 6 dp for cross-engine libm parity (j3 precedent).
    "x7_pmi_bigrams" -> { (s, dir) =>
      import s.implicits._
      // explode(array(...)) is a Generate barrier (x8's pattern): the
      // non-empty filter each explode below infers cannot inline the split
      val toks = Tables.documents(s, dir)
        .select($"doc_id", explode(array(TextFunctions.tokenize($"text")))
          .as("ts"))
      val bigrams = toks
        .select(explode(when(size($"ts") >= 2,
          transform(sequence(lit(1), size($"ts") - 1),
            i => struct(element_at($"ts", i).as("w1"),
              element_at($"ts", i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("b"))
        .groupBy($"b.w1".as("w1"), $"b.w2".as("w2"))
        .agg(count(lit(1)).as("n12"))
        .filter($"n12" >= 5)
      val unigrams = toks
        .select(explode($"ts").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c"))
      // total token count folds from the unigram table (vocab-sized) —
      // no third tokenize+explode pass over the corpus
      val total = unigrams.agg(sum($"c").as("n_total"))
      bigrams
        .join(unigrams.select($"w".as("w1"), $"c".as("c1")), Seq("w1"))
        .join(unigrams.select($"w".as("w2"), $"c".as("c2")), Seq("w2"))
        .crossJoin(broadcast(total))
        .select($"w1", $"w2", $"n12",
          // each factor promotes to double BEFORE multiplying: the long
          // products n12·n_total and c1·c2 overflow Int64 on a
          // trillion-token corpus (ANSI mode would throw); the double
          // products are exact below 2^53 so small-SF parity is unchanged
          round(log($"n12".cast("double") * $"n_total".cast("double") /
            ($"c1".cast("double") * $"c2".cast("double"))), 6).as("pmi"))
    },

    // P1+A1: the canonical wordcount (tokenize → per-element count).
    "p1_wordcount" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select(explode(TextFunctions.tokenize($"text")).as("word"))
        .groupBy($"word")
        .agg(count(lit(1)).as("n"))
    },

    // P2: formatted "word: count" output strings (reference
    // `MinimalWordCount.scala:47-52`).
    "p2_format" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select(explode(TextFunctions.tokenize($"text")).as("word"))
        .groupBy($"word")
        .agg(count(lit(1)).as("n"))
        .select(format_string("%s: %d", $"word", $"n").as("line"))
    },

    // P5: regex-match filter with matched/unmatched counters (reference
    // `DebuggingWordCount.scala:66-87`) — counters surfaced as columns.
    "p5_regex_filter" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .groupBy($"lang")
        .agg(sum(when($"text".rlike("merge|vector"), 1).otherwise(0))
               .cast("bigint").as("matched"),
             sum(when($"text".rlike("merge|vector"), 0).otherwise(1))
               .cast("bigint").as("unmatched"))
    },

    // Token statistics: whitespace tokens, BPE-ish regex tokens, mean
    // token length — the cheap tokenizer-cost proxies for corpus filtering.
    "x1_token_stats" -> { (s, dir) =>
      import s.implicits._
      withToks(Tables.documents(s, dir))
        .select($"doc_id",
          size($"toks").cast("bigint").as("n_tokens"),
          TextFunctions.regexTokenCount($"text").cast("bigint").as("n_regex_tokens"),
          (aggregate($"toks", lit(0L), (acc, w) => acc + length(w)).cast("double")
            / size($"toks")).as("mean_token_len"))
    },

    // Language-ID: stopword-profile hit counts per language, argmax with
    // deterministic tiebreak (profile order).
    "x2_langid" -> { (s, dir) =>
      import s.implicits._
      val Seq(en, de, fr, es) = langHitCols
      withLangHits(withToks(Tables.documents(s, dir)))
        .select($"doc_id", en.cast("bigint").as("en_hits"), de.cast("bigint").as("de_hits"),
          fr.cast("bigint").as("fr_hits"), es.cast("bigint").as("es_hits"),
          predLang.as("pred_lang"))
    },

    // Language-ID, character-n-gram variant: score = how many of the
    // text's char-trigrams appear in each language's trigram profile
    // (the classic n-gram-profile heuristic, rowwise, zero shuffle).
    "x5_langid_ngram" -> { (s, dir) =>
      import s.implicits._
      // ONE fused trigram pass per row. The scores struct sits in its own
      // lower Project: CollapseProject does not inline a non-cheap
      // expression that its consumer reads more than once, so the pass
      // is not repeated per score and per CASE branch (PlanSpec asserts)
      val scored = Tables.documents(s, dir)
        .select($"doc_id",
          CharTrigramScoresExpr.charTrigramScores($"text").as("sc"))
      val Seq(en, de, fr) = charProfiles.map { case (lang, _) => $"sc.$lang" }
      val pred = when(en >= de && en >= fr, "en")
        .when(de >= fr, "de").otherwise("fr")
      scored
        .select($"doc_id", en.cast("bigint").as("en_score"),
          de.cast("bigint").as("de_score"), fr.cast("bigint").as("fr_score"),
          pred.as("pred_lang"))
    },

    // Quality scoring: length/stopword/punctuation signals folded into a
    // [0,1] score + keep flag — the standard pretraining-corpus filter.
    "x3_quality" -> { (s, dir) =>
      import s.implicits._
      withToks(Tables.documents(s, dir))
        .select($"doc_id", size($"toks").cast("bigint").as("n_tokens"),
          TextFunctions.stopwordRatio($"toks").as("stop_ratio"),
          TextFunctions.punctRatio($"text").as("punct_ratio"))
        .withColumn("quality",
          qualityOf($"stop_ratio", $"n_tokens", $"punct_ratio"))
        .withColumn("keep", $"quality" >= 0.3)
    },

    // Gopher-style repetition quality signals: duplicate-token fraction
    // and most-frequent-bigram fraction per document, from the fused
    // one-pass `RepetitionStatsExpr` — zero shuffle (an explode +
    // per-doc groupBy would shuffle every token of the corpus).
    "x8_repetition" -> { (s, dir) =>
      import s.implicits._
      // explode(array(...)) is a Generate BARRIER: without it
      // CollapseProject inlines the stats expression into each of the
      // three field projections and the one-pass scan runs 3× per row
      Tables.documents(s, dir)
        .select($"doc_id",
          explode(array(RepetitionStatsExpr.repetitionStats($"text"))).as("r"))
        .select($"doc_id",
          $"r.n_tokens".cast("bigint").as("n_tokens"),
          when($"r.n_tokens" > 0,
            lit(1.0) - $"r.n_distinct".cast("double") / $"r.n_tokens")
            .otherwise(0.0).as("dup_token_frac"),
          when($"r.n_tokens" >= 2,
            $"r.top_bigram_n".cast("double") / ($"r.n_tokens" - 1))
            .otherwise(0.0).as("top_bigram_frac"))
    },

    // X35: WITHIN-document repeated-trigram stats — the intra-doc
    // repetition-REMOVAL measurement (the Gopher-class cleaning step):
    // a window is duplicated iff its fingerprint occurred earlier in
    // the SAME doc (keep-first), dup_tokens = exact token coverage an
    // excision pass would remove. Distinct from x8 (scores global
    // token/bigram repetition, no positions) and from d25 (spans
    // repeated ACROSS the corpus). Pure per-document function → ONE
    // codegen expression (`functions/NgramSelfDup.scala`), so the
    // query is MAP-ONLY — zero exchanges at any corpus size; fp
    // equality stands in for trigram equality on BOTH sides of the
    // oracle (the d25 convention). explode(array(...)) is the x8
    // Generate barrier: without it the stats expression would inline
    // into each field projection and run 4x per row.
    "x35_selfdup_stats" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id",
          explode(array(
            graft.functions.NgramSelfDupExpr.ngramSelfDupStats($"text", 3)))
            .as("r"))
        .select($"doc_id", $"r.n_tokens".as("n_tokens"),
          $"r.n_dup_windows".as("n_dup_windows"),
          $"r.dup_tokens".as("dup_tokens"),
          when($"r.n_tokens" > 0,
            round($"r.dup_tokens".cast("double") / $"r.n_tokens", 6))
            .otherwise(0.0).as("dup_frac"))
    },

    // Token-distribution Shannon entropy per document — the information-
    // density quality signal (near-zero entropy = boilerplate/repetition;
    // complements x8's count-based fractions). H = ln(T) - Σ n·ln(n) / T
    // avoids needing per-token probabilities before the total is known:
    // one explode + two hash aggs keyed on the doc. Parity: the Σ term is
    // per-row double math rounded to 9 digits then accumulated in DECIMAL
    // (order-insensitive, see queries/package.scala), final H rounded to
    // 6 (the x7/j3 ln-parity convention).
    "x9_entropy" -> { (s, dir) =>
      import s.implicits._
      val counts = Tables.documents(s, dir)
        .select($"doc_id", explode(TextFunctions.wsTokens($"text")).as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("n"))
      counts.groupBy($"doc_id")
        .agg(sum($"n").as("n_tokens"),
          sum(round($"n".cast("double") * log($"n".cast("double")), 9)
            .cast("decimal(28,12)")).as("nlnn"))
        .select($"doc_id", $"n_tokens",
          round(log($"n_tokens".cast("double")) -
            $"nlnn".cast("double") / $"n_tokens".cast("double"), 6)
            .as("entropy"))
    },

    // Document CHUNKING — fixed-size overlapping token windows (size 64,
    // stride 48), the pre-embedding / sequence-packing step of a training
    // pipeline. Emits one row per chunk with its token count and an
    // order-sensitive fingerprint of the chunk's token hashes (proves
    // chunk CONTENT, not just boundaries). Pure rowwise explode — no
    // shuffle; at 100 TB chunking is a map-only pass.
    "x10_chunks" -> { (s, dir) => chunkFrame(s, dir) },

    // SEQUENCE PACKING — assign docs to fixed token-budget packs (the
    // pretraining batch-assembly step): first-fit-in-order with overflow
    // via a running token sum, pack boundary every `budget` tokens.
    // Deterministic and DISTRIBUTED: the sequential scan an exact greedy
    // packer needs is confined to (lang, shard) slices — the shard count
    // derives from cluster parallelism (`packShards`), so no single task
    // ever sees the corpus and the window parallelism grows with the
    // cluster (a global-order pack would be one unbounded window
    // partition; a fixed literal would cap parallelism forever).
    "x11_pack" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, dir).select($"doc_id", $"lang",
        pmod($"doc_id", lit(packShards)).as("shard"),
        size(TextFunctions.wsTokens($"text")).cast("bigint").as("n_tokens"))
      val w = Window.partitionBy($"lang", $"shard").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.withColumn("cum", sum($"n_tokens").over(w))
        .select($"doc_id", $"lang", $"shard", $"n_tokens",
          expr("(cum - n_tokens) div 512").as("pack_id"))
    },

    // X12: SOURCE-MIX REBALANCING under an exact global token budget —
    // keep each source's docs in deterministic hash order until the
    // source's share (weight_k/Σw of half the corpus tokens) is
    // exhausted: the op that turns a raw crawl into a target domain mix.
    // Scale shape: the per-source running token total is a TWO-PHASE
    // distributed prefix sum — shard = HIGH BITS of the selection hash
    // (so (shard, h) order ≡ global h order), per-(source, shard) window
    // cumsums run in parallel, and a tiny (source × shards) offsets
    // frame (one window over ≤ parallelism rows per source) lifts them
    // to exact global cumsums. No corpus-wide single-partition window —
    // the x11 sharding pattern extended with offset lifting; shard count
    // cancels out of the result, so the oracle replays one plain global
    // window per source.
    "x12_source_mix" -> { (s, dir) =>
      import s.implicits._
      val shardWidth = (4294967296L + packShards - 1) / packShards
      val weight = (expr("try_cast(substring(source, 4) AS INT)") % 4 + 1)
        .cast("double")
      val toks = Tables.documents(s, dir).select($"doc_id", $"source",
          size(TextFunctions.wsTokens($"text")).cast("long").as("n_tokens"),
          HashFunctions.knuthHash($"doc_id").as("h"))
        .withColumn("shard", expr(s"h div $shardWidth")) // high bits of h
      val cumd = graft.operators.ShardedPrefixSum.withRunningTotal(
        toks, groupCols = Seq("source"), shardCol = "shard",
        orderCols = Seq("h", "doc_id"), valueCol = "n_tokens",
        outCol = "cum")
      val total = toks.agg(sum($"n_tokens").as("total_tokens"))
      val wsum = Tables.documents(s, dir).select($"source").distinct()
        .agg(sum(weight).as("wsum"))
      cumd
        .crossJoin(broadcast(total)).crossJoin(broadcast(wsum))
        .filter(($"cum" - $"n_tokens").cast("double") <
          lit(0.5) * $"total_tokens".cast("double") * weight / $"wsum")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), sum($"n_tokens").as("tokens_kept"))
    },

    // X13: per-source distribution DRIFT — KL(p_source ‖ p_corpus) over
    // unigram token distributions. The mix-monitoring signal a training
    // pipeline tracks per ingest source: a source whose token
    // distribution diverges from the corpus (template spam, wrong
    // language, markup) jumps out as a high-KL row. Shuffles are
    // vocab-bounded ((source, word) counts, then word-keyed join of the
    // per-word corpus totals); per-source and corpus totals are derived
    // from the SAME counts aggregate (exchange reuse, the j2 diamond
    // pattern). ln parity: per-term double rounded to 9, decimal
    // accumulation, final round 6 — the x9/x7/j3 convention.
    "x13_source_divergence" -> { (s, dir) =>
      import s.implicits._
      val sw = Tables.documents(s, dir)
        .select($"source", explode(TextFunctions.wsTokens($"text")).as("w"))
        .groupBy($"source", $"w").agg(count(lit(1)).as("n_sw"))
      val cw = sw.groupBy($"w").agg(sum($"n_sw").as("n_cw"))
      val ns = sw.groupBy($"source").agg(sum($"n_sw").as("n_s"))
      val nc = cw.agg(sum($"n_cw").as("n_c"))
      sw.join(cw, "w")
        .join(ns, "source")
        .crossJoin(broadcast(nc)) // 1-row global total
        .select($"source", $"n_s",
          round($"n_sw".cast("double") *
              (log($"n_sw".cast("double")) - log($"n_s".cast("double")) -
               log($"n_cw".cast("double")) + log($"n_c".cast("double"))), 9)
            .cast("decimal(28,12)").as("term"))
        .groupBy($"source")
        .agg(min($"n_s").as("n_tokens"),
          round(sum($"term").cast("double") / min($"n_s").cast("double"), 6)
            .as("kl_vs_corpus"))
    },

    // X21: TEMPERATURE-SCALED SOURCE MIXING WEIGHTS (α = 1/2) — the
    // multinomial up/down-sampling rates (XLM-R/mT5 style) that flatten
    // a raw crawl's source skew: p_s ∝ n_s^α, here α = 1/2 so the weight
    // is sqrt(n_tokens) — IEEE-754 sqrt is correctly rounded in every
    // engine, making the temperature curve bit-reproducible (a fractional
    // pow() would be libm-divergent, the p20 lesson). One 20-row source
    // aggregate + a 1-row weight-sum broadcast + rowwise shares; the
    // denominator accumulates round-9 decimals so the sum is
    // order-independent (x9 convention). budget_tokens = each source's
    // integer token allocation at a 1M-token budget (floor — exact).
    "x21_temperature_mix" -> { (s, dir) =>
      import s.implicits._
      val perSource = Tables.documents(s, dir)
        .select($"source",
          size(TextFunctions.wsTokens($"text")).cast("long").as("n"))
        .groupBy($"source").agg(sum($"n").as("n_tokens"))
        .select($"source", $"n_tokens",
          sqrt($"n_tokens".cast("double")).as("w"))
      val wsum = perSource.agg(
        sum(round($"w", 9).cast("decimal(38,12)")).cast("double").as("wsum"))
      perSource.crossJoin(broadcast(wsum)) // 1-row weight sum
        .select($"source", $"n_tokens",
          round($"w" / $"wsum", 9).as("share"),
          floor((lit(1000000.0) * $"w") / $"wsum").cast("long")
            .as("budget_tokens"))
    },

    // X22: ZIPF SLOPE — OLS fit of ln(freq) against ln(rank) over the
    // token frequency table (capped at the top 1000 ranks): the corpus
    // health number a data pipeline tracks per ingest batch — natural
    // text sits near slope −1, template/boilerplate-heavy batches
    // flatten or steepen it. The frequency agg shuffles (w) — vocab-
    // bounded; the top-1000 selection is a two-phase salted top-K
    // (NOT a global rank window: the distinct-token vocab of a web
    // corpus is 10^8–10^9 rows — typos, URLs — so an unpartitioned
    // row_number would sort it all on ONE task). Phase 1 ranks within
    // salt buckets in parallel (a PARTITIONED window — the salt must be
    // a non-foldable column: a constant key would constant-fold to an
    // empty partition spec, i.e. the single-partition WindowExec again)
    // and keeps ≤1000 per bucket; phase 2 is ONE bounded aggregate over
    // the ≤ 1000·fanout survivors — sort, slice, posexplode — whose
    // array position IS the exact global rank (any global-top-1000
    // member is in its bucket's local top-1000). Deterministic rank
    // ties: (n desc, w asc) — encoded as array_sort on (-n, w), a total
    // order on the vocab. Parity: ln on integer args, per-term round-9
    // products, decimal accumulation, final round-6 — the x9/x13
    // convention; the intercept reuses the UNROUNDED slope expression so
    // both engines evaluate the identical double formula.
    "x22_zipf_slope" -> { (s, dir) =>
      import s.implicits._
      val freq = Tables.documents(s, dir)
        .select(explode(TextFunctions.wsTokens($"text")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("n"))
      val local = graft.operators.KeyedOps.topKPerKey(
          freq.withColumn("salt", pmod(spark_partition_id(), lit(32))),
          Seq($"salt"), Seq($"n".desc, $"w".asc), 1000, "lr")
        .select((-$"n").as("negn"), $"w")
      val pts = local
        .agg(slice(array_sort(collect_list(struct($"negn", $"w"))), 1, 1000)
          .as("top"))
        .select(posexplode($"top"))
        .select(round(log(($"pos" + 1).cast("double")), 9).as("x"),
          round(log((-$"col.negn").cast("double")), 9).as("y"))
      val slopeRaw = ($"k" * $"sxy" - $"sx" * $"sy") /
        ($"k" * $"sxx" - $"sx" * $"sx")
      pts.agg(
          count(lit(1)).cast("double").as("k"),
          sum($"x".cast("decimal(38,12)")).cast("double").as("sx"),
          sum($"y".cast("decimal(38,12)")).cast("double").as("sy"),
          sum(round($"x" * $"y", 9).cast("decimal(38,12)")).cast("double")
            .as("sxy"),
          sum(round($"x" * $"x", 9).cast("decimal(38,12)")).cast("double")
            .as("sxx"))
        .select($"k".cast("long").as("n_ranks"),
          round(slopeRaw, 6).as("slope"),
          round(($"sy" - slopeRaw * $"sx") / $"k", 6).as("intercept"))
    },

    // X23: MERGEABLE HISTOGRAM QUANTILE SKETCH — per-source equal-width
    // histogram (16 bins of width 16 over doc token counts, top bin
    // clamped) + interpolated median estimate read off the bins. The
    // third mergeable sketch next to t6's count-min and x18's HLL:
    // bin counts merge by cell-wise sum, so partial histograms compose
    // map-side / cross-shard / cross-day without re-reading documents —
    // the streaming-compatible stand-in for x6's exact per-group
    // quantiles (which need the full value multiset). ONE hash agg over
    // (source, bin); the quantile extraction windows over ≤ 16 rows per
    // source. est_p50 = bin_lo + width · (n/2 − cum_below)/bin_n at the
    // bin where the cumulative count crosses n/2 — all-integer inputs
    // to one double division, round-6.
    "x23_hist_quantiles" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.documents(s, dir)
        .select($"source",
          least(floor(size(TextFunctions.wsTokens($"text")) / 16), lit(15))
            .cast("long").as("bin"))
        .groupBy($"source", $"bin").agg(count(lit(1)).as("bin_n"))
      val w = Window.partitionBy($"source").orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy($"source")
      hist
        .withColumn("cum", sum($"bin_n").over(w))
        .withColumn("n", sum($"bin_n").over(tot))
        .filter($"cum" * 2 >= $"n" && ($"cum" - $"bin_n") * 2 < $"n")
        .select($"source", $"n".as("n_docs"), $"bin".as("median_bin"),
          round($"bin" * 16 +
            lit(16.0) * ($"n".cast("double") / 2 - ($"cum" - $"bin_n")) /
              $"bin_n", 6).as("est_p50"))
    },

    // X24: PII SCRUB — regex detection + redaction of emails / phone
    // numbers with per-source audit counts and a redacted-corpus
    // checksum. The synthetic corpus carries no PII, so the query
    // PLANTS it deterministically first (the p17 late-inject pattern):
    // docs with doc_id%7==0 gain an email and doc_id%5==0 a NANP-style
    // phone, both derived from doc_id, so Spark and the oracle build
    // the identical augmented corpus. Patterns stay inside the
    // RE2 ∩ java.util.regex common subset (character classes only — no
    // backrefs, lookaround, or \d-class ambiguity) so both engines
    // match identical spans. ONE rowwise pass (two scans + two
    // replaces) + a ~20-row source agg: at 100 TB this is the map-only
    // scrub stage of ingest and the only shuffle is the audit
    // aggregate. checksum = Σ javaHash(redacted) proves the redacted
    // BYTES agree cross-engine, not just the match counts.
    "x24_pii_scrub" -> { (s, dir) =>
      import s.implicits._
      val emailRe = EmailRe
      val phoneRe = PhoneRe
      val aug = concat($"text",
        when($"doc_id" % 7 === 0,
          concat(lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when($"doc_id" % 5 === 0,
          concat(lit(" call +1-202-555-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .select($"source", aug.as("aug"))
        .select($"source",
          size(regexp_extract_all($"aug", lit(emailRe), lit(0)))
            .cast("long").as("n_e"),
          size(regexp_extract_all($"aug", lit(phoneRe), lit(0)))
            .cast("long").as("n_p"),
          piiScrub($"aug").as("red"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"n_e" + $"n_p" > 0, 1L).otherwise(0L))
            .as("docs_with_pii"),
          sum($"n_e").as("n_emails"),
          sum($"n_p").as("n_phones"),
          sum(HashFunctions.javaStringHashCode($"red").cast("long"))
            .as("checksum"))
    },

    // X25: CURRICULUM SHARD MANIFEST — the integrity record of a
    // quality-ordered training export: shard = quality OCTILE (boundary
    // array from ONE exact-percentile aggregate, broadcast — the x15
    // decile machinery at n=8, never a global-sort ntile), manifest =
    // per-shard doc/token totals, quality range, and an
    // order-insensitive Σ knuthHash(doc_id) id-checksum a resumed or
    // re-run export can be verified against byte-for-byte. Octile
    // fractions k/8 are exactly representable doubles, so the
    // boundaries are bit-identical cross-engine. One corpus pass + a
    // 1-row boundary broadcast + an 8-row agg; `io/TrainExport` is the
    // physical writer that materializes exactly this layout.
    "x25_shard_manifest" -> { (s, dir) => shardManifest(curriculumFrame(s, dir)) },

    // X27: QUALITY-CLASSIFIER INFERENCE — the hashed-feature linear
    // scorer serving shape (the fastText-style wiki-vs-crawl quality
    // filter that gates pretraining corpora; CCNet/GPT-3 pipeline
    // class). Features: u32 token hash folded into D=256 buckets;
    // weights: the fixed deterministic table w[k] = knuth(k)/2^32 − 0.5
    // (a stand-in for trained coefficients — the SERVING plan, a dot
    // product of hashed features against a constant weight vector, is
    // identical either way). score = mean bucket weight over the doc's
    // tokens; kept = score > 0. Entirely ROWWISE — the weight is
    // arithmetic on the bucket id, so there is no lookup table to
    // broadcast, no join, no agg: zero shuffle at any corpus size, the
    // ideal 100 TB filter stage. Float parity: both engines fold the
    // identical weight sequence left-to-right in doubles (same
    // operation order ⇒ bit-identical IEEE sum; the x13 ln convention
    // is not needed because no libm call is involved).
    "x27_quality_classifier" -> { (s, dir) =>
      import s.implicits._
      val scoreSum = aggregate($"toks", lit(0.0),
        (acc, w) => acc +
          (HashFunctions.knuthHash(
              pmod(HashFunctions.javaStringHashCode(w).cast("long"),
                lit(256L))).cast("double") / lit(4294967296.0) - lit(0.5)))
      withToks(Tables.documents(s, dir))
        .filter(size($"toks") > 0)
        .select($"doc_id", scoreSum.as("ssum"), size($"toks").as("n"))
        .select($"doc_id", round($"ssum" / $"n", 6).as("score"),
          when($"ssum" > 0, 1L).otherwise(0L).as("kept"))
    },

    // X26: GOPHER-STYLE RULE GATE — the published rule-set filter class
    // (Rae et al. Gopher §A.1.1) as distinct from x3's SCORE: each doc
    // gets six boolean rules and per-source pass rates fall out of one
    // aggregate. Every rule threshold is evaluated in INTEGER arithmetic
    // (a*k ≤ b*m instead of a/b ≤ t), so the gate carries zero float-
    // parity risk; the repetition rule reuses the fused one-pass
    // repetition_stats expression (the x8 scan). Rowwise + ONE ~20-row
    // source agg — the map-only filter stage shape at 100 TB.
    //   r_len     50 ≤ n_tokens ≤ 100000
    //   r_wordlen 3 ≤ mean token length ≤ 10
    //   r_alpha   ≥ 80% of tokens contain a letter
    //   r_stop    ≥ 2 distinct stopwords appear (Gopher's rule FORM;
    //             the lexicon is the engine's x3 stop list — the
    //             published 8-word set assumes natural English prose
    //             and is uniformly absent from this synthetic corpus,
    //             which would leave the rule dead rather than
    //             discriminating)
    //   r_symbol  ≤ 10% of chars are #/… symbols
    //   r_rep     duplicate-token fraction ≤ 30%
    // On this synthetic corpus the COMPOSITE gate passes ~0 docs — the
    // verdict is correct, not vacuous: 40-60-token docs drawn from a
    // ~50-word vocabulary are exactly the repetitive non-natural text
    // r_rep exists to reject (dup fraction ≥ 0.5 everywhere); the
    // per-rule pass counts carry the discriminating signal (r_len
    // ~40-80%/source, r_stop ~45-80%, r_rep ~4-15%).
    "x26_gopher_rules" -> { (s, dir) =>
      import s.implicits._
      val flagged = gopherDocFrame(Tables.documents(s, dir))
      val pass = gopherPass
      def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
      flagged.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          cnt($"r_len").as("p_len"), cnt($"r_wordlen").as("p_wordlen"),
          cnt($"r_alpha").as("p_alpha"), cnt($"r_stop").as("p_stop"),
          cnt($"r_symbol").as("p_symbol"), cnt($"r_rep").as("p_rep"),
          cnt(pass).as("n_pass"))
        .select($"source", $"n_docs", $"p_len", $"p_wordlen", $"p_alpha",
          $"p_stop", $"p_symbol", $"p_rep", $"n_pass",
          round($"n_pass".cast("double") / $"n_docs", 6).as("pass_rate"))
    },

    // X14: per-document mean token log-probability under the corpus
    // unigram LM (add-one smoothing) — the CCNet-style fluency/quality
    // signal a pretraining pipeline uses to rank documents before
    // filtering: template spam and wrong-segmentation text score far
    // below fluent prose under the corpus's own distribution. Plan
    // (pinned counts, agg + equi-join on the term): see
    // [[unigramLogprob]] and the LM-score block comment above it.
    "x14_unigram_logprob" -> ((s, dir) =>
      unigramLogprob(Tables.documents(s, dir))),

    // X15: corpus-wide QUALITY DECILE assignment — the bucketing step of
    // quality-stratified mixing / curriculum ordering (keep the top
    // decile for an annealing phase, downsample the bottom two, etc.).
    // The scale-correct plan: exact interpolated decile BOUNDARIES from
    // ONE percentile aggregate (9 doubles, broadcast), then a rowwise
    // classification — never the global-sort ntile window whose single
    // partition would serialize the corpus. decile = #boundaries
    // strictly below the score (ties at a boundary fall to the lower
    // bucket, same rule both engines). At 100 TB the exact percentile's
    // per-partition value buffers are the cost knob — swap in
    // approx_percentile and re-derive (the x6 trade, documented there);
    // the oracle needs the exact form.
    "x15_quality_deciles" -> { (s, dir) =>
      import s.implicits._
      val scored = withToks(Tables.documents(s, dir))
        .select($"doc_id", qualityCol($"toks", $"text").as("quality"))
      val bounds = scored.agg(percentile($"quality",
        array((1 to 9).map(i => lit(i / 10.0)): _*)).as("bs"))
      scored.crossJoin(broadcast(bounds)) // 1-row boundary frame
        .select($"doc_id", $"quality",
          aggregate($"bs", lit(0L),
            (acc, b) => acc + when($"quality" > b, 1L).otherwise(0L))
            .as("decile"))
    },

    // X16: per-doc BIGRAM-LM log-probability — x14's fluency signal
    // upgraded from unigram to conditional bigram probabilities
    // p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V), the closest an exact
    // SQL-replayable score gets to the perplexity filters production
    // curation runs (a doc of common words in an uncommon ORDER now
    // scores low, which x14 cannot see). Plan (pinned counts, agg +
    // equi-join on (w1, w2)): see [[bigramLogprob]] and the LM-score
    // block comment above it.
    "x16_bigram_logprob" -> ((s, dir) =>
      bigramLogprob(Tables.documents(s, dir))),

    // X17: FEATURE-HASHED document embeddings — the text→vector bridge:
    // each doc becomes an L2-normalized 16-dim signed bag-of-words
    // vector (hashing trick: dim = h mod 16, sign = bit 16 of h — two
    // independent bit fields of the token's u32 Java hash), the cheap
    // deterministic stand-in for model embeddings that lets the whole
    // v-family (LSH buckets, kNN, k-means, near-dup) run on raw text
    // corpora. Long-form sparse output (absent dims are zero), exact
    // integer accumulation, one (doc, dim) hash agg + one doc-keyed
    // norm join — both shuffles carry ≤ 16 longs per doc.
    "x17_hash_embedding" -> { (s, dir) =>
      import s.implicits._
      // Round 15: the whole 16-dim signed-hash embedding fused into ONE
      // codegen expression (`functions/HashEmbed.scala`, the round-14
      // poly_fp_windows doctrine — fuse only on a measured win, SCALE.md
      // carries the A/B). The embedding is a pure per-document function,
      // but the composed form exploded every token instance into a
      // (doc_id, dim) hash agg and re-clustered for the norm window —
      // two corpus exchanges for rowwise work. Fused, x17 is MAP-ONLY:
      // scan → compute/explode, zero exchanges at any corpus size.
      // Bit-identical by construction (same u32 Java token hashes, same
      // long-Σraw² → double → sqrt IEEE order); FunctionsSpec proves it
      // against an independent reimplementation AND the unchanged
      // oracle SQL replays the composed derivation.
      Tables.documents(s, dir)
        .select($"doc_id",
          explode(graft.functions.HashEmbedExpr.hashEmbed($"text", 16))
            .as("e"))
        .select($"doc_id", $"e.dim".as("dim"), $"e.value".as("value"))
    },

    // T6: COUNT-MIN SKETCH heavy hitters — the mergeable-sketch answer
    // to "which tokens dominate the corpus" when the exact vocab table
    // itself is too hot to materialize: each partition folds its tokens
    // into a 4×1024 cell grid (multiply-shift row hashes — top 10 bits
    // of h·a_r mod 2^32, the classic universal family with public
    // xxhash/murmur odd constants), cell-wise SUM is the merge (a plain
    // distributive aggregate — at 100 TB the sketch build is one
    // map-side-combined shuffle of ≤ 4096 cells per partition), and
    // est(w) = min over rows of w's cell. Emits words whose estimate
    // clears 1% of corpus tokens, with the exact count alongside so the
    // one-sided CMS error (est ≥ true, surplus ≤ collisions) is visible
    // and oracle-checked. Everything is u32 integer arithmetic —
    // bit-replayable in any engine.
    "t6_cms_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      val as = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
      val counts = Tables.documents(s, dir)
        .select(explode(TextFunctions.wsTokens($"text")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c"))
        .select($"w", $"c",
          pmod(HashFunctions.javaStringHashCode($"w").cast("long"),
            lit(4294967296L)).as("h"))
      // cell grid: each word feeds one bucket per row; SUM per cell is
      // the sketch (merge = +, so partial aggs compose at any scale)
      val entries = counts.select($"w", $"c", $"h", posexplode(
          array(as.map(a =>
            shiftright(HashFunctions.mulU32($"h", a), 22)): _*)))
        .select($"w", $"c", $"h", $"pos".as("row"),
          $"col".cast("long").as("bucket"))
      // each cell sum attaches as a window over ONE (row, bucket)
      // clustered exchange (round-10 pattern) — the former cells
      // aggregate + join-back consumed the entries frame (and the
      // corpus-vocab counts beneath it) twice
      val total = counts.agg(sum($"c").as("n_total"))
      entries
        .repartition($"row", $"bucket")
        .withColumn("cell",
          sum($"c").over(org.apache.spark.sql.expressions.Window
            .partitionBy($"row", $"bucket")))
        .groupBy($"w")
        .agg(min($"cell").as("est"), min($"c").as("n_true"))
        .crossJoin(broadcast(total)) // 1-row corpus total
        .filter($"est" * 100 >= $"n_total")
        .select($"w", $"est", $"n_true")
    },

    // X18: HYPERLOGLOG distinct-token estimate per source, next to the
    // exact count — the register-merge sketch that answers per-source
    // cardinality with 256 bytes of state where exact distinct needs a
    // vocab shuffle. Register = top 8 bits of the avalanched token hash
    // (v10's double-knuth finalizer: one multiplicative round's high
    // bits are quasi-periodic, which HLL registers would inherit as a
    // systematic bias); rank = leading-zero count of the low 24 bits
    // via bin()-string length (integer/string ops only — no libm log2
    // at power-of-two boundaries); merge = MAX per register (one hash
    // agg). The estimate folds 2^-rank as 1/(1<<rank) — exact dyadic
    // doubles whose ≤256-term sum stays below 2^53 dynamic range, so
    // the fold is order-independent and the raw-HLL double is
    // bit-reproducible. The standard small-range correction applies
    // (raw ≤ 2.5m with empty registers → linear counting m·ln(m/empty),
    // the regime toy-SF sources live in; one scalar ln per source,
    // round-6 for libm parity); exact distinct rides alongside for the
    // error check.
    "x18_hll_distinct" -> { (s, dir) =>
      import s.implicits._
      val h1 = pmod(HashFunctions.javaStringHashCode($"w").cast("long"),
        lit(4294967296L))
      val hw = Tables.documents(s, dir)
        .select($"source", explode(TextFunctions.wsTokens($"text")).as("w"))
        .distinct() // registers are per distinct (source, token)
        .select($"source", $"w",
          HashFunctions.knuthHash(HashFunctions.knuthHash(h1)
            .bitwiseXOR(shiftright(HashFunctions.knuthHash(h1), 16))).as("h"))
      val regs = hw
        .select($"source", $"w", shiftright($"h", 24).as("reg"),
          $"h".bitwiseAND(lit(0xFFFFFFL)).as("low"))
        .select($"source", $"w", $"reg",
          when($"low" === 0, lit(25L))
            .otherwise(lit(25L) - length(bin($"low"))).as("rank"))
        .groupBy($"source", $"reg").agg(max($"rank").as("r"))
      val exact = hw.select($"source", $"w").distinct()
        .groupBy($"source").agg(count(lit(1)).as("n_exact"))
      val alpha = 0.7213 / (1.0 + 1.079 / 256.0)
      regs.groupBy($"source")
        .agg(sum(expr(
            "1.0 / cast(shiftleft(cast(1 as bigint), cast(r as int)) as double)"))
            .as("present_sum"),
          count(lit(1)).as("n_regs"))
        .select($"source", (lit(256L) - $"n_regs").as("empty"),
          (lit(alpha * 256.0 * 256.0) /
            ($"present_sum" + (lit(256L) - $"n_regs").cast("double")))
            .as("raw"))
        .select($"source",
          when($"raw" <= 640.0 && $"empty" > 0,
            round(lit(256.0) * log(lit(256.0) / $"empty".cast("double")), 6))
            .otherwise(round($"raw", 6)).as("n_hll"))
        .join(exact, "source")
        .select($"source", $"n_exact", $"n_hll")
    },

    // X20: DSIR-style importance weights (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"): score
    // every document by its summed log-likelihood ratio between a
    // TARGET-domain unigram LM (docs from DsirTarget) and the raw-corpus
    // LM, both add-one smoothed over the shared vocab —
    // w_d = Σ_w n_dw·[ln p_t(w) − ln p_r(w)] — then flag the top
    // quartile as selected (x15's exact boundary-from-ONE-aggregate
    // pattern, never a global-sort window). The paper scores hashed
    // n-gram features; exact unigrams keep the score SQL-replayable
    // while preserving the estimator's shape. Plan (round 14): the
    // (doc, source, w) counts READ THE SESSION-PINNED posting frame —
    // `source` rides in the pin for exactly this consumer — so both LMs
    // fold from the pin (vocab-sized two-phase aggs), a vocab-bounded
    // left join aligns them (unseen-in-target words get the smoothing
    // floor), totals broadcast as 1 row. Per-evaluation shuffles carry
    // (doc, w) counts then the vocab — never the corpus instance
    // stream. ln parity: x13/x14 convention.
    "x20_dsir_weights" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val dw = sharedPostings(docs)
        .select($"doc_id", $"source", $"w", $"n_dw")
      // reference-LM stats ARE the pinned corpus term stats; its 1-row
      // totals (n_r, V) enter as collected literals (round 14 — see
      // the sharedTermStats note). The target-LM side folds from the
      // pin per evaluation (one vocab-sized agg).
      val (cw, nR, v) = sharedTermStats(docs)
      val tw = dw.filter($"source" === DsirTarget)
        .groupBy($"w").agg(sum($"n_dw").as("n_tw"))
      val vocab = cw.withColumnRenamed("n_w", "n_rw")
        .join(tw, Seq("w"), "left")
        .select($"w", $"n_rw", coalesce($"n_tw", lit(0L)).as("n_tw"))
      // 1-row target total (coalesce: an empty target side must keep
      // the old Σ-of-coalesced-zeros semantics, not go null)
      val tot = tw.agg(coalesce(sum($"n_tw"), lit(0L)).as("n_t"))
      val scored = dw.join(vocab, "w")
        .crossJoin(broadcast(tot))
        .select($"doc_id", $"n_dw",
          round($"n_dw".cast("double") *
              (log(($"n_tw" + 1).cast("double")) -
               log(($"n_t" + lit(v)).cast("double")) -
               log(($"n_rw" + 1).cast("double")) +
               log(lit(nR + v).cast("double"))), 9)
            .cast("decimal(28,12)").as("term"))
        .groupBy($"doc_id")
        .agg(sum($"n_dw").as("n_tokens"),
          round(sum($"term").cast("double"), 6).as("logratio"))
      val bound = scored.agg(percentile($"logratio", lit(0.75)).as("b"))
      scored.crossJoin(broadcast(bound)) // 1-row quartile boundary
        .select($"doc_id", $"n_tokens", $"logratio",
          when($"logratio" > $"b", 1L).otherwise(0L).as("selected"))
    },

    // X19: CONTENT-DEFINED chunking — chunk boundaries cut where the
    // Knuth hash of the token itself satisfies knuth(h) % 16 == 0
    // (expected chunk ≈ 16 tokens), so an insertion near the head of a
    // document only perturbs chunks up to the next boundary and every
    // chunk after it REALIGNS — the property that makes chunk-level
    // dedup robust to edits where x10/d13's fixed-stride windows all
    // shift and nothing matches (spec-proven differentially). Shape:
    // rowwise token hashing + boundary flags, a per-doc window prefix
    // sum for chunk ids (doc-bounded partitions, the p22 pattern), one
    // (doc, chunk) agg folding the order-sensitive x4 fingerprint, and
    // an fp-keyed sharing join — shuffle ∝ corpus tokens then chunks.
    "x19_cdc_chunks" -> { (s, dir) =>
      cdcChunkFrame(Tables.documents(s, dir))
    },

    // Document fingerprint: polynomial rolling hash over Java-hashed
    // tokens (order-sensitive — reorderings get different fingerprints).
    "x4_fingerprint" -> { (s, dir) =>
      import s.implicits._
      val hashes = transform(TextFunctions.wsTokens($"text"),
        w => HashFunctions.javaStringHashCode(w).cast("long"))
      Tables.documents(s, dir)
        .select($"doc_id", HashFunctions.polyFingerprint(hashes).as("fp"))
    },

    // J2: term frequency — (doc, word) counts joined with per-doc totals
    // (reference `TfIdf.scala:241-266`). The per-doc total is Σn over the
    // counts frame, so the whole diamond derives from ONE (doc_id, word)
    // aggregate and Catalyst's exchange reuse makes the corpus scan +
    // first shuffle happen once — no cache needed.
    "j2_tf" -> { (s, dir) =>
      import s.implicits._
      val counts = Tables.documents(s, dir)
        .select($"doc_id", explode(TextFunctions.tokenize($"text")).as("word"))
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("n"))
      val totals = counts.groupBy($"doc_id").agg(sum($"n").as("total"))
      counts.join(totals, "doc_id")
        .select($"doc_id", $"word", ($"n".cast("double") / $"total").as("tf"))
    },

    // J3: TF-IDF = tf * ln(D/df) (reference `TfIdf.scala:283-297,364-378`;
    // doc-count D is the broadcast singleton side input J5). Every branch
    // of the diamond (tf numerator, per-doc totals, doc frequency) derives
    // from the ONE (doc_id, word) counts aggregate: totals = Σn per doc,
    // df = row count per word (counts is already distinct on (doc, word)).
    // The identical counts subplan across branches is collapsed by
    // Catalyst's ReuseExchange, so the exploded token frame is scanned and
    // shuffled exactly once — no corpus-sized `.cache()` pinning executor
    // storage memory (the engine's no-corpus-cache rule, cf. d2/d4).
    "j3_tfidf" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val counts = docs
        .select($"doc_id", explode(TextFunctions.tokenize($"text")).as("word"))
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("n"))
      val totals = counts.groupBy($"doc_id").agg(sum($"n").as("total"))
      val docFreq = counts.groupBy($"word").agg(count(lit(1)).as("df"))
      val tf = counts.join(totals, "doc_id")
        .select($"doc_id", $"word", ($"n".cast("double") / $"total").as("tf"))
      tf.join(docFreq, "word")
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .select($"doc_id", $"word",
          // round to 6dp: JVM Math.log and libm log may differ 1 ulp
          round($"tf" * log($"n_docs".cast("double") / $"df"), 6).as("tfidf"))
    },

    // J13: POSITIONAL PHRASE SEARCH — the adjacency-matching serving
    // path j9's document-level postings cannot answer ("new york" must
    // not match a doc containing the words in separate places). Queries
    // are query-by-example like j11: the first TWO tokens of docs 0–4
    // form the phrase, qid = doc_id. Plan: the positional posting
    // stream (posexplode of the token array) is pruned AT THE SCAN by a
    // broadcast join against the ≤10 query terms — only postings of
    // words that appear in some phrase survive, so the adjacency
    // equi-join on (qid, doc_id, pos+1 = pos) shuffles query-term
    // postings, never the corpus. Occurrence counting and the per-qid
    // top-10 both ride qid-prefixed keys (the j11 clustering argument);
    // phrase-match count is exact integer arithmetic end to end. At
    // 100 TB the pruned posting stream IS the positional index slice a
    // search engine would read — the plan is the index lookup, with the
    // index build fused into the scan.
    "j13_phrase_search" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id",
          explode(array(TextFunctions.wsTokens($"text"))).as("ts"))
      val q = toks.filter($"doc_id" < 5 && size($"ts") >= 2)
        .select($"doc_id".as("qid"), $"ts" (0).as("w1"), $"ts" (1).as("w2"))
      val post = toks
        .select($"doc_id", posexplode($"ts").as(Seq("pos", "w")))
      val h1 = post.join(broadcast(q), $"w" === $"w1")
        .select($"qid", $"doc_id", $"pos")
      val h2 = post.join(broadcast(q.select($"qid".as("qid2"), $"w2")),
          $"w" === $"w2")
        .select($"qid2", $"doc_id".as("doc2"), $"pos".as("pos2"))
      val hits = h1.join(h2,
          $"qid" === $"qid2" && $"doc_id" === $"doc2" &&
            $"pos" + 1 === $"pos2")
        .groupBy($"qid", $"doc_id")
        .agg(count(lit(1)).as("n_hits"))
      graft.operators.KeyedOps.topKPerKey(hits, Seq($"qid"),
          Seq($"n_hits".desc, $"doc_id".asc), 10)
        .select($"qid", $"doc_id", $"n_hits", $"rank")
    },

    // X28: QUALITY-CLASSIFIER TRAINING — the on-cluster training step
    // x27's hashed scorer only pretends happened: 3 full-batch
    // gradient-descent iterations of a logistic regression predicting
    // lang == 'en' from three rowwise text features (token count /50,
    // distinct-token fraction, mean token length /5), the fastText-
    // classifier stand-in every curation stack trains on its own
    // corpus sample. Each iteration is ONE tiny aggregate over the
    // feature frame (6 numbers cross the exchange: n, n_correct, four
    // gradient components) with the current weights entering as
    // broadcast literals — at 100 TB that is 3 map-reduce passes with
    // constant driver state, the textbook distributed-GD shape (the
    // k-means/PQ-codebook collect precedent: a constant-bounded 1-row
    // collect per iteration). Cross-engine exactness uses the repo's
    // j11 convention: per-row doubles (z, sigmoid) are IEEE-identical
    // given identical operand order, libm-adjacent values are round-9
    // anchored, per-row gradient contributions are round-9 then summed
    // in DECIMAL (exact, order-free), and each weight update re-anchors
    // at round-6 so iteration 2/3 start from bit-identical weights in
    // both engines. Output: one row per iteration — the accuracy of the
    // PRE-update weights (measured in the same pass as the gradient)
    // and the POST-update weight vector.
    "x28_classifier_train" -> { (s, dir) =>
      import s.implicits._
      def round6(x: Double): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val feat = Tables.documents(s, dir)
        .select($"lang",
          explode(array(TextFunctions.wsTokens($"text"))).as("ts"))
        .filter(size($"ts") > 0)
        .select(
          when($"lang" === "en", 1.0).otherwise(0.0).as("y"),
          (size($"ts").cast("double") / 50.0).as("x1"),
          (size(array_distinct($"ts")).cast("double") / size($"ts"))
            .as("x2"),
          (aggregate($"ts", lit(0L), (a, w) => a + length(w))
            .cast("double") / (size($"ts") * 5)).as("x3"))
        // iteration 1 materializes the feature frame; iterations 2-3
        // read the cached blocks instead of re-running the corpus
        // tokenize (persist + released in the finally — the training
        // loop finishes inside query construction, the BPE-loop trade)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val eta = 0.5
      var w = Array(0.0, 0.0, 0.0, 0.0)
      val rows = try (1 to 3).map { it =>
        val z = lit(w(0)) + lit(w(1)) * $"x1" + lit(w(2)) * $"x2" +
          lit(w(3)) * $"x3"
        val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 9)
        def grad(x: Column) =
          sum(round(($"y" - p) * x, 9).cast("decimal(20,9)"))
        val r = feat.agg(
          count(lit(1)).as("n"),
          sum(when((p >= 0.5) === ($"y" === 1.0), 1L).otherwise(0L))
            .as("n_correct"),
          grad(lit(1.0)).as("g0"), grad($"x1").as("g1"),
          grad($"x2").as("g2"), grad($"x3").as("g3")).head()
        val n = r.getLong(0)
        val acc = round6(r.getLong(1).toDouble / n)
        val g = (2 to 5).map(i => r.getDecimal(i).doubleValue).toArray
        w = Array.tabulate(4)(k => round6(w(k) + eta * g(k) / n))
        (it, acc, w(0), w(1), w(2), w(3))
      } finally feat.unpersist(blocking = false)
      rows.toDF("iter", "acc_before", "w0", "w1", "w2", "w3")
    },

    // X29: INTERPOLATED BIGRAM LM (Jelinek-Mercer) — the smoothing that
    // makes x16's fluency score usable as a production filter: raw
    // bigram MLE assigns ln(≈0) to any construction the corpus hasn't
    // seen, so rare-but-fine prose scores like garbage. JM interpolation
    // backs off to the unigram model instead:
    //   p(w2|w1) = λ·c(w1,w2)/c(w1) + (1−λ)·c(w2)/N,   λ = 0.75
    // (the KenLM-class recipe; KN smoothing differs only in the
    // discount arithmetic, the plan shape is identical). Plan (x14/x16's,
    // round 14): the pinned bigram count frame joins the pinned
    // (c12, c1) and unigram stats — both equi-joins, AQE-skew-splittable
    // on a hot w1/w2 ("the"). Parity: both
    // divisions and the interpolation sum are IEEE doubles in identical
    // operand order, ln is round-9 anchored, per-term products round-9,
    // decimal accumulation, final round-6 (x13/x16 convention).
    "x29_interp_lm" -> ((s, dir) =>
      interpLm(Tables.documents(s, dir))),

    // X30: DATASET CARD — the per-source datasheet a corpus release
    // ships (Gebru et al.'s "Datasheets for Datasets", the model-card
    // sibling every production corpus publishes): doc/token inventory,
    // language spread, mean x3 quality, and the Gopher-gate pass rate,
    // all from ONE corpus pass. Plan: rides the SAME fused
    // repetition-stats scan as x26 (gopherDocFrame — one definition),
    // one ~20-row source aggregate; at 100 TB the card is a free
    // by-product of the quality sweep the pipeline already runs —
    // reporting must never cost a second corpus read. Parity: counts
    // integer-exact; mean_quality decimal-accumulated round-9/round-6
    // (x9 convention); mean_tokens is one double division of two exact
    // integers.
    "x30_dataset_card" -> { (s, dir) =>
      import s.implicits._
      val pass = gopherPass
      gopherDocFrame(Tables.documents(s, dir))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct($"lang").as("n_langs"),
          sum($"n").as("tot_tokens"),
          round(sum($"n").cast("double") / count(lit(1)), 6)
            .as("mean_tokens"),
          round(sum(round($"quality", 9).cast("decimal(28,12)"))
            .cast("double") / count(lit(1)), 6).as("mean_quality"),
          sum(when(pass, 1L).otherwise(0L)).as("n_gopher_pass"))
        .withColumn("pass_rate",
          round($"n_gopher_pass".cast("double") / $"n_docs", 6))
    },

    // X31: BPE MERGE LEARNING — the distributed tokenizer-training step
    // (Sennrich et al. '16): each iteration counts adjacent-symbol pairs
    // over the whole corpus, elects the most frequent pair, and rewrites
    // the corpus with the merged symbol before the next count. Run here
    // at word level for 2 iterations — the plan SHAPE is the real thing:
    // per iteration ONE vocab²-bounded pair-count aggregate (map-side
    // partial; the pair frame, not the corpus, crosses the exchange),
    // a distributed top-1 (TakeOrderedAndProject — never a single-
    // partition sort), a 1-row collect (constant driver state, the
    // x28/k-means precedent), and a ROWWISE literal rewrite of the
    // canonicalized text. Merge application is plain left-to-right
    // non-overlapping `replace` on space-padded text — deterministic
    // and engine-identical by construction (a run "a b a b" merges its
    // first occurrence only, both engines; documented relaxation vs
    // strict greedy BPE). Ties elect (n desc, w1 asc, w2 asc) — a
    // total order. All-integer outputs: zero float-parity surface.
    "x31_bpe_merges" -> ((s, dir) => bpeMerges(Tables.documents(s, dir), 2)),

    // X32: BPE ENCODE — the APPLY side of x31's tokenizer training, the
    // pass a pipeline runs over the whole corpus once the merge table is
    // frozen: rewrite every document with the learned merges and report
    // per-doc raw/post-merge token counts + compression ratio (the
    // token-budget input x12/x25 consume; tokenizer-aware budgeting
    // needs POST-merge counts, not whitespace counts). Plan: the merge
    // table rides the SAME training loop (2 one-row collects, constant
    // driver state); encoding is the loop's final rewritten frame — a
    // chain of rowwise literal replaces, ZERO additional shuffles or
    // joins (n_raw is carried through the projections from the first
    // tokenize, so the stats pass needs no corpus join-back). At 100 TB
    // the encode is embarrassingly parallel: one corpus map per merge
    // batch. Parity: counts integer-exact; ratio is one IEEE division
    // of exact integers, round-6; zero-token docs pin ratio = 1.0 by
    // the shared guard.
    "x32_bpe_encode" -> ((s, dir) => bpeEncode(Tables.documents(s, dir), 2)),

    // X33: VOCABULARY COVERAGE / OOV RATE — the tokenizer-fit health
    // report: freeze a top-N vocabulary (here N=20 so the fixture's
    // 31-word tail actually bites; production N is 32k-256k — still a
    // CONSTANT) and report each source's out-of-vocabulary token mass
    // and type count. High OOV on a source = the tokenizer was trained
    // on the wrong distribution for it (the check run before x31-style
    // retraining). Plan: ONE corpus-sized (source, w) hash agg — token
    // instances never cross the wire twice; the vocab is a distributed
    // TakeOrderedAndProject (never a single-partition sort) broadcast
    // into a VOCAB-sized left join of the (source, w) frame; output one
    // ≤n_sources-row agg. Ties at the vocab boundary: (count desc, w
    // asc) — deterministic in both engines. Counts integer-exact;
    // oov_rate one IEEE division round-6.
    "x33_oov_rate" -> { (s, dir) =>
      import s.implicits._
      val VocabN = 20
      val sw = Tables.documents(s, dir)
        .select($"source", explode(TextFunctions.wsTokens($"text")).as("w"))
        .groupBy($"source", $"w").agg(count(lit(1)).as("n"))
      val vocab = sw.groupBy($"w").agg(sum($"n").as("nw"))
        .orderBy($"nw".desc, $"w").limit(VocabN)
        .select($"w", lit(1).as("in_vocab"))
      sw.join(broadcast(vocab), Seq("w"), "left")
        .groupBy($"source")
        .agg(sum($"n").as("n_tokens"),
          sum(when($"in_vocab".isNull, $"n").otherwise(0L)).as("n_oov"),
          sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov_types"))
        .select($"source", $"n_tokens", $"n_oov", $"n_oov_types",
          round($"n_oov".cast("double") / $"n_tokens".cast("double"), 6)
            .as("oov_rate"))
    },
  )

  /** The space-padded tokenized corpus (doc_id, n_raw, t), PINNED once
    * per (session, corpus plan) (round 13, r11 verdict item 6): every BPE
    * merge iteration runs a full pair-count pass and previously
    * re-tokenized the corpus from parquet each time (iteration i
    * replayed i-1 rewrites ON TOP of the scan — 2 corpus passes per
    * iteration); now iteration 1's count materializes the pinned frame
    * and every later pass — pair counts AND the x32 encode — reads the
    * pinned blocks through a cheap literal-replace chain. O(corpus)
    * storage: the standard iterative-training trade (same doctrine as
    * the k-means assignment pin).
    */
  private[graft] def bpeCorpus(docs: DataFrame): DataFrame =
    Pins.frame("bpe_corpus", docs.sparkSession, None, Pins.planDigest(docs)) {
      import docs.sparkSession.implicits._
      docs.select($"doc_id", TextFunctions.wsTokens($"text").as("ts0"))
        .select($"doc_id", size($"ts0").as("n_raw"),
          concat(lit(" "), concat_ws(" ", $"ts0"), lit(" ")).as("t"))
    }

  /** x31/x32 shared core — `iters` BPE merge-learning iterations over an
    * arbitrary (doc_id, text) frame (see the x31 scale notes in the
    * queries map). Returns both the elected merge table AND the final
    * rewritten space-padded corpus (doc_id, n_raw, t), so the encode
    * side (x32) is the training loop's by-product, never a replay.
    * `n_raw` rides the corpus projections from the start — the final
    * stats need no corpus-sized join-back. Pinned per (session, corpus
    * plan, iters): x31 (merge table) and x32 (encode) share one loop.
    */
  private def bpeLoop(docs: DataFrame, iters: Int)
      : (Seq[(Int, String, String, Long, String)], DataFrame) =
    Pins.get("bpe_loop", docs.sparkSession, None,
        Pins.planDigest(docs) + ":" + iters) {
      val sess = docs.sparkSession
      import sess.implicits._
      var cur = bpeCorpus(docs)
      val rows = (1 to iters).map { it =>
        // ts MUST be its own projection before the lambda references it
        // (the x16 shape): element_at(<raw split expr>, i) inside the
        // transform lambda re-tokenizes the whole string per element —
        // O(len²) per row, measured 10× slower at sf0.1
        val top = cur
          .select(TextFunctions.wsTokens($"t").as("ts"))
          .filter(size($"ts") >= 2)
          .select(explode(
            transform(sequence(lit(1), size($"ts") - 1),
              i => struct(element_at($"ts", i).as("w1"),
                element_at($"ts", i + 1).as("w2")))).as("b"))
          .groupBy($"b.w1".as("w1"), $"b.w2".as("w2"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy($"n_pairs".desc, $"w1".asc, $"w2".asc)
          .limit(1).head() // 1-row collect: constant driver state
        val (w1, w2, n) = (top.getString(0), top.getString(1), top.getLong(2))
        cur = cur.select($"doc_id", $"n_raw",
          call_function("replace", $"t",
            lit(s" $w1 $w2 "), lit(s" ${w1}_$w2 ")).as("t"))
        (it, w1, w2, n, s"${w1}_$w2")
      }
      (rows, cur)
    }

  /** x31 core — the elected merge table. Factored so PropertySpec can
    * replay the election and the merge rewrite on a planted corpus.
    */
  private[graft] def bpeMerges(docs: DataFrame, iters: Int): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    bpeLoop(docs, iters)._1.toDF("iter", "w1", "w2", "n_pairs", "merged")
  }

  /** x32 core — ENCODE with the learned merges: per-doc raw/post-merge
    * token counts and the compression ratio. Zero-token docs keep
    * ratio 1.0 (nothing to compress — the divide-by-zero guard both
    * engines share).
    */
  private[graft] def bpeEncode(docs: DataFrame, iters: Int): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    val (_, cur) = bpeLoop(docs, iters)
    cur.select($"doc_id", $"n_raw".cast("long").as("n_raw"),
        size(TextFunctions.wsTokens($"t")).cast("long").as("n_bpe"))
      .select($"doc_id", $"n_raw", $"n_bpe",
        ($"n_raw" - $"n_bpe").as("n_merged"),
        when($"n_raw" === 0, lit(1.0))
          .otherwise(round($"n_bpe".cast("double") /
            $"n_raw".cast("double"), 6)).as("ratio"))
  }

  /** x29 core — Jelinek-Mercer interpolated bigram LM score
    * p(w2|w1) = λ·c(w1,w2)/c(w1) + (1−λ)·c(w2)/N over an arbitrary
    * (doc_id, text) frame.
    */
  private[graft] def interpLm(docs: DataFrame): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    // pinned unigram stats (w2's totals) + pinned bigram stats; N is
    // the collected corpus token total — no tokenize pass, no stats
    // fold, anywhere per evaluation
    val (cw, nTok, _) = sharedTermStats(docs)
    val uni = cw.withColumnsRenamed(Map("w" -> "w2", "n_w" -> "n_w2"))
    val db = sharedBigrams(docs)
    val stats = sharedBigramStats(docs)
    val counts = db.join(stats, Seq("w1", "w2"))
      .join(uni, "w2") // vocab-sized stats sides — size-selected

    val p = lit(0.75) * ($"c12".cast("double") / $"c1".cast("double")) +
      lit(0.25) * ($"n_w2".cast("double") / lit(nTok).cast("double"))
    counts
      .select($"doc_id", $"n_dw",
        round($"n_dw".cast("double") * round(log(p), 9), 9)
          .cast("decimal(28,12)").as("term"))
      .groupBy($"doc_id")
      .agg(sum($"n_dw").as("n_bigrams"),
        round(sum($"term").cast("double") / sum($"n_dw").cast("double"), 6)
          .as("mean_logprob"))
  }

  /** The x10 chunk frame (doc_id, chunk_idx, chunk_len, fp): fixed-size
    * overlapping token windows (size 64, stride 48) with an
    * order-sensitive fingerprint of each chunk's token hashes. Pure
    * rowwise explode — map-only at any scale. Package-visible: d13's
    * chunk-level dedup consumes the same frame.
    */
  private[graft] def chunkFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round 14: tokenize + hash + every chunk's poly fold fused into
    // the codegen'd strided_chunks expression (one compiled call per
    // doc) — the composed slice + interpreted-HOF-fold-per-chunk chain
    // it replaces is spec-proven bit-identical (FunctionsSpec); the
    // x10 oracle replays the derivation in SQL. Map-only, as before.
    Tables.documents(s, dir)
      .select($"doc_id",
        explode(graft.functions.StridedChunksExpr
          .stridedChunks($"text", 64, 48)).as("c"))
      .select($"doc_id", $"c.chunk_idx".as("chunk_idx"),
        $"c.chunk_len".as("chunk_len"), $"c.fp".as("fp"))
  }

  /** CDC chunk frame (see the x19 query note): (doc_id, chunk_id,
    * chunk_len, fp, shared). Takes the documents frame directly so the
    * shift-robustness spec can feed planted corpora.
    */
  private[graft] def cdcChunkFrame(docs: DataFrame): DataFrame = {
    // round 14: the boundary scan, chunk-id prefix sum, and per-chunk
    // fp fold are per-document SEQUENTIAL by construction, so the whole
    // chunk frame is ONE fused codegen expression + explode — map-only
    // at any corpus size. The composed form this replaces paid a
    // per-doc analytic window (boundary prefix sum), a (doc, chunk)
    // collect_list ObjectHashAggregate (one corpus exchange), and an
    // interpreted HOF fold per chunk. Values bit-identical
    // (FunctionsSpec differential + the x19 oracle replays the whole
    // derivation in SQL).
    val frame = docs
      .select(col("doc_id"),
        explode(graft.functions.CdcChunksExpr.cdcChunks(col("text")))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        col("c.chunk_len").as("chunk_len"), col("c.fp").as("fp"))
    // nd (distinct docs per fp) by agg + equi-join (round 14, r13
    // verdict item 4 — the last fp-partitioned windows): the stacked
    // fp-windows this replaces serialized a boilerplate mega-fp's
    // entire chunk set through one window partition. The (fp, doc)
    // distinct agg combines map-side (a hot fp spreads by doc), the
    // fp-keyed nd fold is two-phase over the distinct frame, and the
    // join back is AQE-skew-splittable. The trade: the chunk chain
    // runs in both join branches (the d25/d28 two-pass trade).
    val nd = frame
      .groupBy(col("fp"), col("doc_id")).agg(count(lit(1)))
      .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
    frame.join(nd, "fp")
      .select(col("doc_id"), col("chunk_id"), col("chunk_len"), col("fp"),
        when(col("nd") >= 2, 1L).otherwise(0L).as("shared"))
  }

  /** DuckDB replay of [[chunkFrame]] — a full SELECT over `documents`. */
  private[queries] def chunksSql: String =
    s"""SELECT doc_id, i AS chunk_idx,
       |  len(hs[i*48+1 : i*48+64])::BIGINT AS chunk_len,
       |  list_reduce(list_prepend(0::BIGINT, hs[i*48+1 : i*48+64]),
       |    (a, x) -> ((a * 31 + x) % 1000000007 + 1000000007)
       |      % 1000000007) AS fp
       |FROM (
       |  SELECT doc_id, hs,
       |    unnest(generate_series(0, (len(hs) + 47) // 48 - 1)) AS i
       |  FROM (SELECT doc_id, list_transform(${OracleFragments.wsTokens("text")},
       |          w -> ${OracleFragments.javaHashU32("w")}) AS hs FROM documents)
       |  WHERE len(hs) > 0)""".stripMargin

  private def tok(e: String) = OracleFragments.tokenize(e)
  private def ws(e: String) = OracleFragments.wsTokens(e)

  /** `TextFunctions.StopWords` as a DuckDB list literal. */
  private def stopListSql(sep: String): String =
    TextFunctions.StopWords.map(w => s"'$w'").mkString("[", sep, "]")

  /** Gopher rule-flag CTE chain (t → g → f) shared by the x26 and x30
    * oracles — the SQL twin of [[gopherDocFrame]], one definition.
    * `carry` = identity columns threaded through to `f` alongside the
    * token count `n` and the six rule booleans.
    */
  private def gopherFlagSqlCte(carry: String): String = {
    s"""t AS (
       |  SELECT $carry, text, ${ws("text")} AS toks FROM documents),
       |g AS (
       |  SELECT $carry,
       |    len(toks)::BIGINT AS n,
       |    len(list_distinct(list_transform(toks,
       |      w -> ${OracleFragments.javaHashU32("w")})))::BIGINT AS nd,
       |    coalesce(list_sum(list_transform(toks, w -> len(w))), 0)::BIGINT
       |      AS sumlen,
       |    len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT
       |      AS alpha_n,
       |    len(list_filter(${stopListSql(",")}, s -> list_contains(toks, s)))::BIGINT
       |      AS stop_n,
       |    len(text)::BIGINT AS n_chars,
       |    (len(text) - len(regexp_replace(text, '[#…]', '', 'g')))::BIGINT
       |      AS sym_n
       |  FROM t),
       |f AS (
       |  SELECT $carry, n,
       |    (n >= 50 AND n <= 100000) AS r_len,
       |    (n > 0 AND sumlen >= n * 3 AND sumlen <= n * 10) AS r_wordlen,
       |    (n > 0 AND alpha_n * 5 >= n * 4) AS r_alpha,
       |    (stop_n >= 2) AS r_stop,
       |    (n_chars = 0 OR sym_n * 10 <= n_chars) AS r_symbol,
       |    (n > 0 AND (n - nd) * 10 <= n * 3) AS r_rep
       |  FROM g)""".stripMargin
  }

  /** (doc_id, n_tokens, stop_ratio, punct_ratio) — the x3 feature body. */
  private def qualityGSql: String = {
    s"""SELECT doc_id, len(toks) AS n_tokens,
       |    CASE WHEN len(toks) > 0 THEN
       |      len(list_filter(toks, w -> list_contains(${stopListSql(", ")}, w)))::DOUBLE
       |        / len(toks)::DOUBLE ELSE 0.0 END AS stop_ratio,
       |    CASE WHEN len(text) > 0 THEN
       |      (len(text) - len(regexp_replace(text,
       |         '[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')))::DOUBLE
       |        / len(text)::DOUBLE ELSE 0.0 END AS punct_ratio
       |  FROM (SELECT doc_id, text, ${ws("text")} AS toks FROM documents)""".stripMargin
  }

  private val qualityExprSql =
    """stop_ratio * 0.4 + least(n_tokens::DOUBLE / 80.0, 1.0) * 0.3
      |    + (1.0 - punct_ratio) * 0.3""".stripMargin

  /** (doc_id, quality) DuckDB subquery replaying [[qualityCol]] — the
    * oracle twin of the shared quality score (used by x3 and Dedup d10).
    */
  private[queries] def qualitySubSql: String =
    s"SELECT doc_id, $qualityExprSql AS quality FROM ($qualityGSql)"

  /** j11's full BM25 oracle as a standalone statement — also embedded
    * as j12's `sparse` subquery (nested-WITH), so the two stay one
    * definition.
    */
  private def j11Sql: String =
    s"""WITH dw AS (
       |  SELECT doc_id, w, count(*) AS n_dw FROM (
       |    SELECT doc_id, unnest(${ws("text")}) AS w FROM documents)
       |  GROUP BY 1, 2),
       |len AS (SELECT doc_id, sum(n_dw)::BIGINT AS len_d FROM dw
       |        GROUP BY 1),
       |df AS (SELECT w, count(*)::BIGINT AS df FROM dw GROUP BY 1),
       |tot AS (SELECT count(*)::BIGINT AS n_docs,
       |        sum(len_d)::DOUBLE / count(*) AS avglen FROM len),
       |q AS (
       |  SELECT DISTINCT qid, w FROM (
       |    SELECT doc_id AS qid,
       |      unnest(list_slice(${ws("text")}, 1, 3)) AS w
       |    FROM documents WHERE doc_id < 5)),
       |scored AS (
       |  SELECT q.qid, dw.doc_id,
       |    round(CAST(sum(CAST(round(
       |        round(ln(1.0 + (n_docs::DOUBLE - df + 0.5) / (df + 0.5)),
       |          9) *
       |        ((n_dw * (1.2 + 1)) /
       |         (n_dw::DOUBLE + 1.2 *
       |           ((1 - 0.75) + 0.75 * len_d::DOUBLE / avglen))), 9)
       |      AS DECIMAL(28,12))) AS DOUBLE), 6) AS score
       |  FROM dw JOIN q USING (w) JOIN df USING (w)
       |    JOIN len ON dw.doc_id = len.doc_id, tot
       |  GROUP BY 1, 2)
       |SELECT qid, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, doc_id) AS rank FROM scored)
       |WHERE rank <= 10""".stripMargin

  override def oracle: Map[String, String] = Map(
    "d8_corpus_curation" -> {
      val hits = langProfiles.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, w -> list_contains($lst, w))) AS ${lang}_hits"
      }.mkString(",\n    ")
      s"""WITH f AS (
         |  SELECT doc_id, lang, text, ${ws("text")} AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, lang, text, len(toks) AS n_tokens,
         |    $hits,
         |    CASE WHEN len(toks) > 0 THEN
         |      len(list_filter(toks, w -> list_contains(${stopListSql(", ")}, w)))::DOUBLE
         |        / len(toks)::DOUBLE ELSE 0.0 END AS stop_ratio,
         |    CASE WHEN len(text) > 0 THEN
         |      (len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
         |        / len(text)::DOUBLE ELSE 0.0 END AS punct_ratio
         |  FROM f),
         |scored AS (
         |  SELECT doc_id, lang, text,
         |    CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
         |         WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
         |         WHEN fr_hits >= es_hits THEN 'fr' ELSE 'es' END AS pred_lang,
         |    stop_ratio * 0.4 + least(n_tokens::DOUBLE / 80.0, 1.0) * 0.3
         |      + (1.0 - punct_ratio) * 0.3 AS quality
         |  FROM g),
         |dedup AS (
         |  SELECT md5(text) AS digest, min(doc_id) AS keeper,
         |    min(lang) AS lang, min(pred_lang) AS pred_lang,
         |    min(quality) AS quality
         |  FROM scored WHERE quality >= 0.3 GROUP BY 1)
         |SELECT lang, pred_lang, count(*) AS n_docs,
         |  CAST(sum(CAST(quality AS DECIMAL(22,6))) AS DOUBLE) / count(*)
         |    AS mean_quality
         |FROM dedup GROUP BY 1, 2""".stripMargin
    },

    "j9_inverted_index" ->
      s"""SELECT word, count(*) AS df,
         |  array_to_string(list_sort(list(doc_id)), ',') AS postings
         |FROM (SELECT DISTINCT doc_id, unnest(${tok("text")}) AS word
         |      FROM documents)
         |GROUP BY word""".stripMargin,

    "j11_bm25" -> j11Sql,

    "j12_rrf_fusion" ->
      s"""WITH sparse AS (SELECT * FROM ($j11Sql)),
         |dense AS (
         |  SELECT qid, doc_id, CAST(rank AS INTEGER) AS rank FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS doc_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${OracleFragments.cosineSql("q.embedding", "c.embedding")}
         |          DESC, c.vec_id) AS rank
         |    FROM embeddings q CROSS JOIN embeddings c
         |    WHERE q.vec_id < 5)
         |  WHERE rank <= 10),
         |fused AS (
         |  SELECT COALESCE(s.qid, d.qid) AS qid,
         |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
         |    COALESCE(1.0 / (60 + s.rank), 0.0) +
         |      COALESCE(1.0 / (60 + d.rank), 0.0) AS rrf
         |  FROM sparse s FULL OUTER JOIN dense d
         |    ON s.qid = d.qid AND s.doc_id = d.doc_id)
         |SELECT qid, doc_id, round(rrf, 9) AS rrf,
         |  CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY rrf DESC, doc_id) AS rank FROM fused)
         |WHERE rank <= 10""".stripMargin,

    "x7_pmi_bigrams" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${tok("text")} AS ts FROM documents),
         |bi AS (
         |  SELECT b[1] AS w1, b[2] AS w2, count(*) AS n12 FROM (
         |    SELECT unnest(CASE WHEN len(ts) >= 2 THEN
         |      list_transform(generate_series(1, len(ts) - 1),
         |        i -> [ts[i], ts[i+1]])
         |      ELSE []::VARCHAR[][] END) AS b
         |    FROM toks)
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |uni AS (
         |  SELECT w, count(*) AS c FROM (
         |    SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM (
         |    SELECT unnest(ts) AS w FROM toks))
         |SELECT bi.w1, bi.w2, bi.n12,
         |  round(ln(bi.n12::DOUBLE * n_total::DOUBLE /
         |           (u1.c::DOUBLE * u2.c::DOUBLE)), 6)
         |    AS pmi
         |FROM bi JOIN uni u1 ON bi.w1 = u1.w
         |        JOIN uni u2 ON bi.w2 = u2.w
         |        CROSS JOIN tot""".stripMargin,

    "p19_stratified_sample" -> {
      // same truncation as hashSample's (frac * 2^32).toLong — DuckDB's
      // CAST(... AS BIGINT) ROUNDS and would keep one extra hash value
      val tEn = (0.1 * 4294967296.0).toLong
      val tOther = (0.5 * 4294967296.0).toLong
      s"""SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_kept
         |FROM documents
         |WHERE ${OracleFragments.knuthU32("doc_id")} <
         |  (CASE WHEN lang = 'en' THEN $tEn ELSE $tOther END)
         |GROUP BY lang""".stripMargin
    },

    "x6_length_quantiles" ->
      s"""SELECT lang, quantile_cont(n_tokens, 0.5) AS p50,
         |  quantile_cont(n_tokens, 0.9) AS p90,
         |  quantile_cont(n_tokens, 0.99) AS p99,
         |  count(*) AS n_docs
         |FROM (SELECT lang, len(${ws("text")})::BIGINT AS n_tokens
         |      FROM documents)
         |GROUP BY lang""".stripMargin,

    "p1_wordcount" ->
      s"""SELECT word, count(*) AS n
         |FROM (SELECT unnest(${tok("text")}) AS word FROM documents)
         |GROUP BY word""".stripMargin,

    "p2_format" ->
      s"""SELECT format('{}: {}', word, n) AS line
         |FROM (SELECT word, count(*) AS n
         |      FROM (SELECT unnest(${tok("text")}) AS word FROM documents)
         |      GROUP BY word)""".stripMargin,

    "p5_regex_filter" ->
      """SELECT lang,
        |  CAST(sum(CASE WHEN regexp_matches(text, 'merge|vector') THEN 1 ELSE 0 END) AS BIGINT) AS matched,
        |  CAST(sum(CASE WHEN regexp_matches(text, 'merge|vector') THEN 0 ELSE 1 END) AS BIGINT) AS unmatched
        |FROM documents GROUP BY lang""".stripMargin,

    "x1_token_stats" ->
      s"""SELECT doc_id,
         |  len(${ws("text")}) AS n_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_regex_tokens,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(${ws("text")}, w -> len(w)::BIGINT)),
         |    (a, b) -> a + b)::DOUBLE / len(${ws("text")}) AS mean_token_len
         |FROM documents""".stripMargin,

    "x2_langid" -> {
      val hits = langProfiles.map { case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(${ws("text")}, w -> list_contains($lst, w))) AS ${lang}_hits"
      }.mkString(",\n  ")
      s"""SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
         |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
         |       WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
         |       WHEN fr_hits >= es_hits THEN 'fr'
         |       ELSE 'es' END AS pred_lang
         |FROM (SELECT doc_id,
         |  $hits
         |FROM documents)""".stripMargin
    },

    "x5_langid_ngram" -> {
      val scores = charProfiles.map { case (lang, grams) =>
        val lst = grams.map(g => s"'${g.replace("'", "''")}'")
          .mkString("[", ", ", "]")
        s"""len(list_filter(
           |  CASE WHEN len(text) >= 3 THEN
           |    list_transform(generate_series(1, len(text) - 2),
           |      i -> substring(text, i, 3))
           |  ELSE []::VARCHAR[] END,
           |  g -> list_contains($lst, g))) AS ${lang}_score""".stripMargin
      }.mkString(",\n  ")
      s"""SELECT doc_id, en_score, de_score, fr_score,
         |  CASE WHEN en_score >= de_score AND en_score >= fr_score THEN 'en'
         |       WHEN de_score >= fr_score THEN 'de'
         |       ELSE 'fr' END AS pred_lang
         |FROM (SELECT doc_id,
         |  $scores
         |FROM documents)""".stripMargin
    },

    "x3_quality" ->
      s"""SELECT doc_id, n_tokens, stop_ratio, punct_ratio,
         |  $qualityExprSql AS quality,
         |  ($qualityExprSql) >= 0.3 AS keep
         |FROM ($qualityGSql)""".stripMargin,

    "x8_repetition" ->
      s"""WITH th AS (
         |  SELECT doc_id, list_transform(${ws("text")},
         |    w -> ${OracleFragments.javaHashU32("w")}) AS hs FROM documents),
         |bi AS (
         |  SELECT doc_id, unnest(CASE WHEN len(hs) >= 2 THEN
         |      list_transform(generate_series(1, len(hs) - 1),
         |        i -> (hs[i] * 1000003 + hs[i+1]) % 4294967296)
         |    ELSE []::BIGINT[] END) AS g
         |  FROM th),
         |top AS (
         |  SELECT doc_id, max(c) AS top_n FROM (
         |    SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT th.doc_id, len(hs) AS n_tokens,
         |  CASE WHEN len(hs) > 0
         |    THEN 1.0 - len(list_distinct(hs))::DOUBLE / len(hs)
         |    ELSE 0.0 END AS dup_token_frac,
         |  CASE WHEN len(hs) >= 2
         |    THEN top_n::DOUBLE / (len(hs) - 1)
         |    ELSE 0.0 END AS top_bigram_frac
         |FROM th LEFT JOIN top ON th.doc_id = top.doc_id""".stripMargin,

    // Replays NgramSelfDupExpr: window fp = poly fold mod 1e9+7 over
    // u32 token hashes (the d25 fragment, re-centered for DuckDB's
    // signed %); dup = pos > min(pos) per (doc, fp); coverage = DISTINCT
    // positions under any dup window's [pos, pos+3) span.
    "x35_selfdup_stats" ->
      s"""WITH th AS (
         |  SELECT doc_id, list_transform(${ws("text")},
         |    w -> ${OracleFragments.javaHashU32("w")}) AS hs FROM documents),
         |g AS (
         |  SELECT doc_id, i::BIGINT AS pos,
         |    list_reduce(list_prepend(0::BIGINT, hs[i+1 : i+3]),
         |      (a, x) -> ((a * 31 + x) % 1000000007 + 1000000007)
         |        % 1000000007) AS fp
         |  FROM (SELECT doc_id, hs,
         |          unnest(generate_series(0, len(hs) - 3)) AS i
         |        FROM th WHERE len(hs) >= 3)),
         |dup AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, min(pos) OVER (PARTITION BY doc_id, fp)
         |      AS mi FROM g)
         |  WHERE pos > mi),
         |dw AS (SELECT doc_id, count(*)::BIGINT AS n_dup_windows
         |       FROM dup GROUP BY 1),
         |cov AS (SELECT doc_id, count(DISTINCT pos + o)::BIGINT AS dup_tokens
         |        FROM dup CROSS JOIN (SELECT unnest([0, 1, 2]) AS o) u
         |        GROUP BY doc_id)
         |SELECT th.doc_id, len(hs)::BIGINT AS n_tokens,
         |  coalesce(dw.n_dup_windows, 0)::BIGINT AS n_dup_windows,
         |  coalesce(cov.dup_tokens, 0)::BIGINT AS dup_tokens,
         |  CASE WHEN len(hs) > 0
         |    THEN round(coalesce(cov.dup_tokens, 0)::DOUBLE / len(hs), 6)
         |    ELSE 0.0 END AS dup_frac
         |FROM th LEFT JOIN dw ON th.doc_id = dw.doc_id
         |  LEFT JOIN cov ON th.doc_id = cov.doc_id""".stripMargin,

    "x9_entropy" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(${ws("text")}) AS w FROM documents),
         |c AS (SELECT doc_id, w, count(*) AS n FROM w GROUP BY 1, 2)
         |SELECT doc_id, sum(n)::BIGINT AS n_tokens,
         |  round(ln(sum(n)::DOUBLE) -
         |    CAST(sum(CAST(round(n::DOUBLE * ln(n::DOUBLE), 9)
         |                  AS DECIMAL(28,12))) AS DOUBLE)
         |      / sum(n)::DOUBLE, 6) AS entropy
         |FROM c GROUP BY 1""".stripMargin,

    "x13_source_divergence" ->
      s"""WITH sw AS (
         |  SELECT source, w, count(*) AS n_sw FROM (
         |    SELECT source, unnest(${ws("text")}) AS w FROM documents)
         |  GROUP BY 1, 2),
         |cw AS (SELECT w, sum(n_sw)::BIGINT AS n_cw FROM sw GROUP BY 1),
         |ns AS (SELECT source, sum(n_sw)::BIGINT AS n_s FROM sw GROUP BY 1),
         |nc AS (SELECT sum(n_cw)::BIGINT AS n_c FROM cw)
         |SELECT source, min(n_s)::BIGINT AS n_tokens,
         |  round(CAST(sum(CAST(round(n_sw::DOUBLE *
         |      (ln(n_sw::DOUBLE) - ln(n_s::DOUBLE)
         |       - ln(n_cw::DOUBLE) + ln(n_c::DOUBLE)), 9)
         |    AS DECIMAL(28,12))) AS DOUBLE) / min(n_s)::DOUBLE, 6)
         |    AS kl_vs_corpus
         |FROM sw JOIN cw USING (w) JOIN ns USING (source), nc
         |GROUP BY source""".stripMargin,

    "x20_dsir_weights" ->
      s"""WITH dw AS (
         |  SELECT doc_id, source, w, count(*) AS n_dw FROM (
         |    SELECT doc_id, source, unnest(${ws("text")}) AS w
         |    FROM documents)
         |  GROUP BY 1, 2, 3),
         |rw AS (SELECT w, sum(n_dw)::BIGINT AS n_rw FROM dw GROUP BY 1),
         |tw AS (SELECT w, sum(n_dw)::BIGINT AS n_tw FROM dw
         |       WHERE source = '$DsirTarget' GROUP BY 1),
         |vocab AS (
         |  SELECT r.w, r.n_rw, coalesce(t.n_tw, 0)::BIGINT AS n_tw
         |  FROM rw r LEFT JOIN tw t ON r.w = t.w),
         |tot AS (SELECT sum(n_rw)::BIGINT AS n_r, sum(n_tw)::BIGINT AS n_t,
         |        count(*)::BIGINT AS v FROM vocab),
         |scored AS (
         |  SELECT doc_id, sum(n_dw)::BIGINT AS n_tokens,
         |    round(CAST(sum(CAST(round(n_dw::DOUBLE *
         |        (ln((n_tw + 1)::DOUBLE) - ln((n_t + v)::DOUBLE)
         |         - ln((n_rw + 1)::DOUBLE) + ln((n_r + v)::DOUBLE)), 9)
         |      AS DECIMAL(28,12))) AS DOUBLE), 6) AS logratio
         |  FROM dw JOIN vocab USING (w), tot
         |  GROUP BY doc_id),
         |b AS (SELECT quantile_cont(logratio, 0.75) AS b FROM scored)
         |SELECT doc_id, n_tokens, logratio,
         |  CASE WHEN logratio > b THEN 1::BIGINT ELSE 0::BIGINT END
         |    AS selected
         |FROM scored, b""".stripMargin,

    "x19_cdc_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_transform(${ws("text")},
         |    w -> ${OracleFragments.javaHashU32("w")}) AS hs FROM documents),
         |ih AS (
         |  SELECT doc_id, unnest(generate_series(1, len(hs))) AS i,
         |    unnest(hs) AS h
         |  FROM t),
         |tok AS (
         |  SELECT doc_id, i - 1 AS pos, h,
         |    CASE WHEN i > 1 AND (${OracleFragments.knuthU32("h")}) % 16 = 0
         |      THEN 1 ELSE 0 END AS b
         |  FROM ih),
         |chunked AS (
         |  SELECT doc_id, pos, h,
         |    (sum(b) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING))::BIGINT AS chunk_id
         |  FROM tok),
         |frame AS (
         |  SELECT doc_id, chunk_id, count(*) AS chunk_len,
         |    list_reduce(list_prepend(0::BIGINT, list(h ORDER BY pos)),
         |      (acc, x) -> ((acc * 31 + x) % 1000000007 + 1000000007)
         |        % 1000000007) AS fp
         |  FROM chunked GROUP BY 1, 2),
         |fpd AS (
         |  SELECT fp, count(*) AS nd FROM (
         |    SELECT DISTINCT doc_id, fp FROM frame) GROUP BY 1)
         |SELECT doc_id, chunk_id, chunk_len, fp,
         |  CASE WHEN nd >= 2 THEN 1::BIGINT ELSE 0::BIGINT END AS shared
         |FROM frame JOIN fpd USING (fp)""".stripMargin,

    "t6_cms_heavy_hitters" ->
      s"""WITH counts AS (
         |  SELECT w, count(*) AS c,
         |    (${OracleFragments.javaHashU32("w")})::BIGINT AS h
         |  FROM (SELECT unnest(${ws("text")}) AS w FROM documents)
         |  GROUP BY w),
         |entries AS (
         |  SELECT w, c, r.row,
         |    (((h::HUGEINT * r.a) % 4294967296) // 4194304)::BIGINT AS bucket
         |  FROM counts, (VALUES (0, 2654435761), (1, 2246822519),
         |    (2, 3266489917), (3, 668265263)) AS r(row, a)),
         |cells AS (
         |  SELECT row, bucket, sum(c)::BIGINT AS cell
         |  FROM entries GROUP BY 1, 2),
         |tot AS (SELECT sum(c)::BIGINT AS n_total FROM counts)
         |SELECT w, min(cell)::BIGINT AS est, min(c)::BIGINT AS n_true
         |FROM entries JOIN cells USING (row, bucket), tot
         |GROUP BY w, n_total
         |HAVING min(cell) * 100 >= n_total""".stripMargin,

    "x18_hll_distinct" -> {
      val h1 = s"(${OracleFragments.javaHashU32("w")})::BIGINT"
      val k1 = s"(${OracleFragments.knuthU32(h1)})::BIGINT"
      val h = OracleFragments.knuthU32(s"xor($k1, $k1 >> 16)")
      s"""WITH hw AS (
         |  SELECT source, w, ($h)::BIGINT AS h FROM (
         |    SELECT DISTINCT source, unnest(${ws("text")}) AS w
         |    FROM documents)),
         |ranked AS (
         |  SELECT source, h >> 24 AS reg,
         |    CASE WHEN (h & 16777215) = 0 THEN 25
         |      ELSE 25 - length(bin(h & 16777215)) END AS rank
         |  FROM hw),
         |regs AS (
         |  SELECT source, reg, max(rank) AS r
         |  FROM ranked GROUP BY 1, 2),
         |est AS (
         |  SELECT source, (256 - count(*)) AS empty,
         |    (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 /
         |      (sum(1.0 / (1::BIGINT << r)::DOUBLE)
         |       + (256 - count(*))::DOUBLE) AS raw
         |  FROM regs GROUP BY source),
         |exact AS (
         |  SELECT source, count(DISTINCT w) AS n_exact FROM hw GROUP BY 1)
         |SELECT source, n_exact,
         |  CASE WHEN raw <= 640.0 AND empty > 0
         |    THEN round(256.0 * ln(256.0 / empty::DOUBLE), 6)
         |    ELSE round(raw, 6) END AS n_hll
         |FROM est JOIN exact USING (source)""".stripMargin
    },

    "x17_hash_embedding" ->
      s"""WITH tok AS (
         |  SELECT doc_id, ${OracleFragments.javaHashU32("w")} AS h FROM (
         |    SELECT doc_id, unnest(${ws("text")}) AS w FROM documents)),
         |raw AS (
         |  SELECT doc_id, (h % 16)::BIGINT AS dim,
         |    sum(((h // 65536) % 2) * 2 - 1)::BIGINT AS raw
         |  FROM tok GROUP BY 1, 2),
         |norms AS (
         |  SELECT doc_id, sqrt(sum(raw * raw)::DOUBLE) AS norm
         |  FROM raw GROUP BY 1)
         |SELECT doc_id, dim,
         |  CASE WHEN norm = 0 THEN 0.0 ELSE raw::DOUBLE / norm END AS value
         |FROM raw JOIN norms USING (doc_id)""".stripMargin,

    "x16_bigram_logprob" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${ws("text")} AS toks FROM documents),
         |db AS (
         |  SELECT doc_id, w1, w2, count(*) AS n_dw FROM (
         |    SELECT doc_id,
         |      unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
         |      unnest(list_slice(toks, 2, len(toks))) AS w2
         |    FROM t WHERE len(toks) >= 2)
         |  GROUP BY 1, 2, 3),
         |c12 AS (SELECT w1, w2, sum(n_dw)::BIGINT AS c12
         |        FROM db GROUP BY 1, 2),
         |c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY 1),
         |vv AS (SELECT count(DISTINCT w)::BIGINT AS v FROM (
         |        SELECT unnest(toks) AS w FROM t))
         |SELECT doc_id, sum(n_dw)::BIGINT AS n_bigrams,
         |  round(CAST(sum(CAST(round(n_dw::DOUBLE *
         |      (ln((c12 + 1)::DOUBLE) - ln((c1 + v)::DOUBLE)), 9)
         |    AS DECIMAL(28,12))) AS DOUBLE) / sum(n_dw)::DOUBLE, 6)
         |    AS mean_logprob
         |FROM db JOIN c12 USING (w1, w2) JOIN c1 USING (w1), vv
         |GROUP BY doc_id""".stripMargin,

    "x29_interp_lm" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${ws("text")} AS toks FROM documents),
         |db AS (
         |  SELECT doc_id, w1, w2, count(*) AS n_dw FROM (
         |    SELECT doc_id,
         |      unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
         |      unnest(list_slice(toks, 2, len(toks))) AS w2
         |    FROM t WHERE len(toks) >= 2)
         |  GROUP BY 1, 2, 3),
         |c12 AS (SELECT w1, w2, sum(n_dw)::BIGINT AS c12
         |        FROM db GROUP BY 1, 2),
         |c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY 1),
         |uni AS (SELECT w AS w2, count(*)::BIGINT AS n_w2 FROM (
         |        SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |nt AS (SELECT count(*)::BIGINT AS n_tok FROM (
         |        SELECT unnest(toks) AS w FROM t))
         |SELECT doc_id, sum(n_dw)::BIGINT AS n_bigrams,
         |  round(CAST(sum(CAST(round(n_dw::DOUBLE *
         |      round(ln(0.75 * (c12::DOUBLE / c1::DOUBLE) +
         |            0.25 * (n_w2::DOUBLE / n_tok::DOUBLE)), 9), 9)
         |    AS DECIMAL(28,12))) AS DOUBLE) / sum(n_dw)::DOUBLE, 6)
         |    AS mean_logprob
         |FROM db JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
         |  JOIN uni USING (w2), nt
         |GROUP BY doc_id""".stripMargin,

    "x15_quality_deciles" ->
      s"""WITH q AS ($qualitySubSql),
         |b AS (SELECT quantile_cont(quality,
         |        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
         |      FROM q)
         |SELECT doc_id, quality,
         |  len(list_filter(bs, x -> quality > x))::BIGINT AS decile
         |FROM q, b""".stripMargin,

    "x14_unigram_logprob" ->
      s"""WITH dw AS (
         |  SELECT doc_id, w, count(*) AS n_dw FROM (
         |    SELECT doc_id, unnest(${ws("text")}) AS w FROM documents)
         |  GROUP BY 1, 2),
         |cw AS (SELECT w, sum(n_dw)::BIGINT AS n_w FROM dw GROUP BY 1),
         |tot AS (SELECT sum(n_w)::BIGINT AS n_c, count(*)::BIGINT AS v
         |        FROM cw)
         |SELECT doc_id, sum(n_dw)::BIGINT AS n_tokens,
         |  round(CAST(sum(CAST(round(n_dw::DOUBLE *
         |      (ln((n_w + 1)::DOUBLE) - ln((n_c + v)::DOUBLE)), 9)
         |    AS DECIMAL(28,12))) AS DOUBLE) / sum(n_dw)::DOUBLE, 6)
         |    AS mean_logprob
         |FROM dw JOIN cw USING (w), tot
         |GROUP BY doc_id""".stripMargin,

    "x10_chunks" -> chunksSql,

    // doc_id ≥ 0, so DuckDB's signed % equals Spark's pmod here
    "x11_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, doc_id % $packShards AS shard,
         |    len(${ws("text")})::BIGINT AS n_tokens
         |  FROM documents)
         |SELECT doc_id, lang, shard, n_tokens,
         |  ((sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id)
         |    - n_tokens) // 512)::BIGINT AS pack_id
         |FROM t""".stripMargin,

    // x12: the sharded two-phase prefix sum is value-identical to ONE
    // global hash-ordered window per source (shard = high bits of h), so
    // the oracle replays the simple form; weight/budget arithmetic in
    // the same double-op order as the Spark side
    "x12_source_mix" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, len(${ws("text")})::BIGINT AS n_tokens,
         |    ${OracleFragments.knuthU32("doc_id")} AS h
         |  FROM documents),
         |c AS (
         |  SELECT *, sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t),
         |tot AS (SELECT sum(n_tokens) AS total_tokens FROM t),
         |w AS (SELECT sum(((try_cast(substring(source, 4) AS INT) % 4 + 1))::DOUBLE)
         |        AS wsum
         |      FROM (SELECT DISTINCT source FROM t))
         |SELECT source, count(*) AS n_kept, sum(n_tokens)::BIGINT AS tokens_kept
         |FROM c, tot, w
         |WHERE (cum - n_tokens)::DOUBLE <
         |  0.5 * total_tokens::DOUBLE
         |    * ((try_cast(substring(source, 4) AS INT) % 4 + 1))::DOUBLE / wsum
         |GROUP BY source""".stripMargin,

    "x21_temperature_mix" ->
      s"""WITH t AS (
         |  SELECT source, sum(len(${ws("text")}))::BIGINT AS n_tokens
         |  FROM documents GROUP BY 1),
         |tw AS (SELECT *, sqrt(n_tokens::DOUBLE) AS w FROM t),
         |s AS (SELECT CAST(sum(CAST(round(w, 9) AS DECIMAL(38,12)))
         |        AS DOUBLE) AS wsum FROM tw)
         |SELECT source, n_tokens,
         |  round(w / wsum, 9) AS share,
         |  CAST(floor((1000000.0 * w) / wsum) AS BIGINT) AS budget_tokens
         |FROM tw, s""".stripMargin,

    "x22_zipf_slope" ->
      s"""WITH f AS (
         |  SELECT w, count(*)::BIGINT AS n
         |  FROM (SELECT unnest(${ws("text")}) AS w FROM documents)
         |  GROUP BY 1),
         |p AS (
         |  SELECT round(ln(r::DOUBLE), 9) AS x, round(ln(n::DOUBLE), 9) AS y
         |  FROM (SELECT *, row_number() OVER (ORDER BY n DESC, w) AS r FROM f)
         |  WHERE r <= 1000),
         |a AS (
         |  SELECT count(*)::DOUBLE AS k,
         |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
         |  FROM p)
         |SELECT CAST(k AS BIGINT) AS n_ranks,
         |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope,
         |  round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 6)
         |    AS intercept
         |FROM a""".stripMargin,

    "x23_hist_quantiles" ->
      s"""WITH h AS (
         |  SELECT source, least(floor(len(${ws("text")}) / 16), 15)::BIGINT AS bin,
         |    count(*)::BIGINT AS bin_n
         |  FROM documents GROUP BY 1, 2),
         |c AS (
         |  SELECT *, sum(bin_n) OVER (PARTITION BY source
         |      ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(bin_n) OVER (PARTITION BY source) AS n
         |  FROM h)
         |SELECT source, n::BIGINT AS n_docs, bin AS median_bin,
         |  round(bin * 16 +
         |    16.0 * (n::DOUBLE / 2 - (cum - bin_n)) / bin_n, 6) AS est_p50
         |FROM c
         |WHERE cum * 2 >= n AND (cum - bin_n) * 2 < n""".stripMargin,

    "x27_quality_classifier" ->
      s"""SELECT doc_id,
         |  round(ssum / len(ts), 6) AS score,
         |  (CASE WHEN ssum > 0 THEN 1 ELSE 0 END)::BIGINT AS kept
         |FROM (
         |  SELECT doc_id, ts,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(ts,
         |      w -> ((${OracleFragments.knuthU32(
                  s"(${OracleFragments.javaHashU32("w")}) % 256")})
         |        / 4294967296.0 - 0.5))),
         |      (a, x) -> a + x) AS ssum
         |  FROM (SELECT doc_id, ${ws("text")} AS ts FROM documents)
         |  WHERE len(ts) > 0)""".stripMargin,

    "x26_gopher_rules" ->
      s"""WITH ${gopherFlagSqlCte("source")},
         |a AS (
         |  SELECT source, count(*)::BIGINT AS n_docs,
         |    sum(CASE WHEN r_len THEN 1 ELSE 0 END)::BIGINT AS p_len,
         |    sum(CASE WHEN r_wordlen THEN 1 ELSE 0 END)::BIGINT AS p_wordlen,
         |    sum(CASE WHEN r_alpha THEN 1 ELSE 0 END)::BIGINT AS p_alpha,
         |    sum(CASE WHEN r_stop THEN 1 ELSE 0 END)::BIGINT AS p_stop,
         |    sum(CASE WHEN r_symbol THEN 1 ELSE 0 END)::BIGINT AS p_symbol,
         |    sum(CASE WHEN r_rep THEN 1 ELSE 0 END)::BIGINT AS p_rep,
         |    sum(CASE WHEN r_len AND r_wordlen AND r_alpha AND r_stop
         |      AND r_symbol AND r_rep THEN 1 ELSE 0 END)::BIGINT AS n_pass
         |  FROM f GROUP BY 1)
         |SELECT source, n_docs, p_len, p_wordlen, p_alpha, p_stop,
         |  p_symbol, p_rep, n_pass,
         |  round(n_pass::DOUBLE / n_docs, 6) AS pass_rate
         |FROM a""".stripMargin,

    "x31_bpe_merges" -> {
      def pairs(src: String, out: String): String =
        s"""$out AS (
           |  SELECT w1, w2, count(*)::BIGINT AS n FROM (
           |    SELECT unnest(list_slice(tk, 1, len(tk) - 1)) AS w1,
           |           unnest(list_slice(tk, 2, len(tk))) AS w2
           |    FROM (SELECT ${ws("t")} AS tk FROM $src)
           |    WHERE len(tk) >= 2)
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |    ' ' || array_to_string(${ws("text")}, ' ') || ' ' AS t
         |  FROM documents),
         |${pairs("t0", "p1")},
         |b1 AS (SELECT w1, w2, n FROM p1 ORDER BY n DESC, w1, w2 LIMIT 1),
         |t1 AS (
         |  SELECT doc_id, replace(t,
         |    ' ' || (SELECT w1 FROM b1) || ' ' || (SELECT w2 FROM b1) || ' ',
         |    ' ' || (SELECT w1 FROM b1) || '_' || (SELECT w2 FROM b1) || ' ')
         |    AS t
         |  FROM t0),
         |${pairs("t1", "p2")},
         |b2 AS (SELECT w1, w2, n FROM p2 ORDER BY n DESC, w1, w2 LIMIT 1)
         |SELECT * FROM (
         |  SELECT 1 AS iter, w1, w2, n AS n_pairs,
         |    w1 || '_' || w2 AS merged FROM b1
         |  UNION ALL
         |  SELECT 2, w1, w2, n, w1 || '_' || w2 FROM b2)""".stripMargin
    },

    "x32_bpe_encode" -> {
      def pairs(src: String, out: String): String =
        s"""$out AS (
           |  SELECT w1, w2, count(*)::BIGINT AS n FROM (
           |    SELECT unnest(list_slice(tk, 1, len(tk) - 1)) AS w1,
           |           unnest(list_slice(tk, 2, len(tk))) AS w2
           |    FROM (SELECT ${ws("t")} AS tk FROM $src)
           |    WHERE len(tk) >= 2)
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH t0 AS (
         |  SELECT doc_id, len(${ws("text")})::BIGINT AS n_raw,
         |    ' ' || array_to_string(${ws("text")}, ' ') || ' ' AS t
         |  FROM documents),
         |${pairs("t0", "p1")},
         |b1 AS (SELECT w1, w2, n FROM p1 ORDER BY n DESC, w1, w2 LIMIT 1),
         |t1 AS (
         |  SELECT doc_id, n_raw, replace(t,
         |    ' ' || (SELECT w1 FROM b1) || ' ' || (SELECT w2 FROM b1) || ' ',
         |    ' ' || (SELECT w1 FROM b1) || '_' || (SELECT w2 FROM b1) || ' ')
         |    AS t
         |  FROM t0),
         |${pairs("t1", "p2")},
         |b2 AS (SELECT w1, w2, n FROM p2 ORDER BY n DESC, w1, w2 LIMIT 1),
         |t2 AS (
         |  SELECT doc_id, n_raw, replace(t,
         |    ' ' || (SELECT w1 FROM b2) || ' ' || (SELECT w2 FROM b2) || ' ',
         |    ' ' || (SELECT w1 FROM b2) || '_' || (SELECT w2 FROM b2) || ' ')
         |    AS t
         |  FROM t1)
         |SELECT doc_id, n_raw, len(${ws("t")})::BIGINT AS n_bpe,
         |  n_raw - len(${ws("t")})::BIGINT AS n_merged,
         |  CASE WHEN n_raw = 0 THEN 1.0
         |    ELSE round(len(${ws("t")})::DOUBLE / n_raw::DOUBLE, 6)
         |  END AS ratio
         |FROM t2""".stripMargin
    },

    "x33_oov_rate" ->
      s"""WITH tok AS (
         |  SELECT source, unnest(${ws("text")}) AS w FROM documents),
         |sw AS (
         |  SELECT source, w, count(*)::BIGINT AS n FROM tok GROUP BY 1, 2),
         |vocab AS (
         |  SELECT w FROM (
         |    SELECT w, sum(n) AS nw FROM sw GROUP BY 1)
         |  ORDER BY nw DESC, w LIMIT 20)
         |SELECT sw.source, sum(sw.n)::BIGINT AS n_tokens,
         |  sum(CASE WHEN v.w IS NULL THEN sw.n ELSE 0 END)::BIGINT AS n_oov,
         |  sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_oov_types,
         |  round(sum(CASE WHEN v.w IS NULL THEN sw.n ELSE 0 END)::DOUBLE
         |    / sum(sw.n)::DOUBLE, 6) AS oov_rate
         |FROM sw LEFT JOIN vocab v ON sw.w = v.w
         |GROUP BY 1""".stripMargin,

    "x30_dataset_card" ->
      s"""WITH ${gopherFlagSqlCte("doc_id, source, lang")},
         |q AS ($qualitySubSql),
         |j AS (
         |  SELECT f.source, f.lang, f.n, q.quality,
         |    (r_len AND r_wordlen AND r_alpha AND r_stop AND r_symbol
         |      AND r_rep) AS pass
         |  FROM f JOIN q USING (doc_id))
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  count(DISTINCT lang)::BIGINT AS n_langs,
         |  sum(n)::BIGINT AS tot_tokens,
         |  round(sum(n)::DOUBLE / count(*), 6) AS mean_tokens,
         |  round(CAST(sum(CAST(round(quality, 9) AS DECIMAL(28,12)))
         |    AS DOUBLE) / count(*), 6) AS mean_quality,
         |  sum(CASE WHEN pass THEN 1 ELSE 0 END)::BIGINT AS n_gopher_pass,
         |  round(sum(CASE WHEN pass THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |    AS pass_rate
         |FROM j GROUP BY 1""".stripMargin,

    "x24_pii_scrub" -> {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      s"""WITH a AS (
         |  SELECT source,
         |    text ||
         |      CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
         |        doc_id::VARCHAR || '@example.com now' ELSE '' END ||
         |      CASE WHEN doc_id % 5 = 0 THEN ' call +1-202-555-' ||
         |        lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END AS aug
         |  FROM documents),
         |r AS (
         |  SELECT source,
         |    len(regexp_extract_all(aug, '$emailRe'))::BIGINT AS n_e,
         |    len(regexp_extract_all(aug, '$phoneRe'))::BIGINT AS n_p,
         |    regexp_replace(regexp_replace(aug, '$emailRe', '[EMAIL]', 'g'),
         |      '$phoneRe', '[PHONE]', 'g') AS red
         |  FROM a)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN n_e + n_p > 0 THEN 1 ELSE 0 END)::BIGINT
         |    AS docs_with_pii,
         |  sum(n_e)::BIGINT AS n_emails,
         |  sum(n_p)::BIGINT AS n_phones,
         |  sum(${OracleFragments.javaHash("red")})::BIGINT AS checksum
         |FROM r GROUP BY source""".stripMargin
    },

    "x25_shard_manifest" ->
      s"""WITH q AS ($qualitySubSql),
         |t AS (SELECT doc_id, len(${ws("text")})::BIGINT AS n_toks
         |      FROM documents),
         |b AS (SELECT quantile_cont(quality,
         |        [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
         |      FROM q)
         |SELECT len(list_filter(bs, x -> quality > x))::BIGINT AS shard,
         |  count(*)::BIGINT AS n_docs,
         |  sum(n_toks)::BIGINT AS n_tokens,
         |  round(min(quality), 6) AS q_min,
         |  round(max(quality), 6) AS q_max,
         |  sum(${OracleFragments.knuthU32("doc_id")})::BIGINT AS id_checksum
         |FROM q JOIN t USING (doc_id), b
         |GROUP BY 1""".stripMargin,

    "p20_weighted_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, source,
         |    (try_cast(substring(source, 4) AS INT) % 4 + 1) AS w,
         |    list_min(list_transform(generate_series(1,
         |        (try_cast(substring(source, 4) AS INT) % 4 + 1)),
         |      r -> (${OracleFragments.knuthU32("doc_id * 131 + r")})::BIGINT))
         |      AS ticket
         |  FROM documents)
         |SELECT lang, doc_id, source, w, ticket, CAST(rank AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY lang
         |        ORDER BY ticket, doc_id) AS rank FROM t)
         |WHERE rank <= 10""".stripMargin,

    "x4_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(${ws("text")}, w -> ${OracleFragments.javaHash("w")})),
         |    (acc, x) -> ((acc * 31 + x) % 1000000007 + 1000000007) % 1000000007) AS fp
         |FROM documents""".stripMargin,

    "j2_tf" ->
      s"""WITH w AS (SELECT doc_id, unnest(${tok("text")}) AS word FROM documents)
         |SELECT doc_id, word,
         |  count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY doc_id) AS tf
         |FROM w GROUP BY doc_id, word""".stripMargin,

    "j3_tfidf" ->
      s"""WITH w AS (SELECT doc_id, unnest(${tok("text")}) AS word FROM documents),
         |tf AS (
         |  SELECT doc_id, word,
         |    count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY doc_id) AS tf
         |  FROM w GROUP BY doc_id, word),
         |df AS (
         |  SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
         |d AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, tf.word AS word, round(tf * ln(n_docs::DOUBLE / df), 6) AS tfidf
         |FROM tf JOIN df ON tf.word = df.word CROSS JOIN d""".stripMargin,

    "j13_phrase_search" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${ws("text")} AS ts FROM documents),
         |q AS (
         |  SELECT doc_id AS qid, ts[1] AS w1, ts[2] AS w2 FROM toks
         |  WHERE doc_id < 5 AND len(ts) >= 2),
         |post AS (
         |  SELECT doc_id, i - 1 AS pos, ts[i] AS w FROM (
         |    SELECT doc_id, ts,
         |      unnest(generate_series(1, len(ts))) AS i FROM toks)),
         |h1 AS (
         |  SELECT q.qid, p.doc_id, p.pos FROM post p JOIN q ON p.w = q.w1),
         |h2 AS (
         |  SELECT q.qid, p.doc_id, p.pos FROM post p JOIN q ON p.w = q.w2),
         |hits AS (
         |  SELECT h1.qid, h1.doc_id, count(*)::BIGINT AS n_hits
         |  FROM h1 JOIN h2 ON h1.qid = h2.qid AND h1.doc_id = h2.doc_id
         |    AND h1.pos + 1 = h2.pos
         |  GROUP BY 1, 2)
         |SELECT qid, doc_id, n_hits, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY n_hits DESC, doc_id) AS rank FROM hits)
         |WHERE rank <= 10""".stripMargin,

    "x28_classifier_train" -> {
      // 3 unrolled GD iterations; each wt<i> CTE carries the round-6
      // post-update weights + the pre-update accuracy of iteration i
      val featSql =
        s"""SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           |  len(ts)::DOUBLE / 50.0 AS x1,
           |  len(list_distinct(ts))::DOUBLE / len(ts) AS x2,
           |  coalesce(list_sum(list_transform(ts, w -> len(w))), 0)::DOUBLE
           |    / (len(ts) * 5) AS x3
           |FROM (SELECT lang, ${ws("text")} AS ts FROM documents)
           |WHERE len(ts) > 0""".stripMargin
      def iter(i: Int): String = {
        val prev = if (i == 1) "winit" else s"wt${i - 1}"
        s"""s$i AS (
           |  SELECT f.y, f.x1, f.x2, f.x3,
           |    round(1.0 / (1.0 + exp(-(w.c0 + w.c1 * f.x1 + w.c2 * f.x2
           |      + w.c3 * f.x3))), 9) AS p
           |  FROM feat f CROSS JOIN $prev w),
           |a$i AS (
           |  SELECT count(*)::BIGINT AS n,
           |    sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
           |      ::BIGINT AS n_correct,
           |    sum(CAST(round((y - p) * 1.0, 9) AS DECIMAL(20,9))) AS g0,
           |    sum(CAST(round((y - p) * x1, 9) AS DECIMAL(20,9))) AS g1,
           |    sum(CAST(round((y - p) * x2, 9) AS DECIMAL(20,9))) AS g2,
           |    sum(CAST(round((y - p) * x3, 9) AS DECIMAL(20,9))) AS g3
           |  FROM s$i),
           |wt$i AS (
           |  SELECT round(w.c0 + 0.5 * (a.g0::DOUBLE) / a.n, 6) AS c0,
           |    round(w.c1 + 0.5 * (a.g1::DOUBLE) / a.n, 6) AS c1,
           |    round(w.c2 + 0.5 * (a.g2::DOUBLE) / a.n, 6) AS c2,
           |    round(w.c3 + 0.5 * (a.g3::DOUBLE) / a.n, 6) AS c3,
           |    round(a.n_correct::DOUBLE / a.n, 6) AS acc
           |  FROM a$i a CROSS JOIN $prev w)""".stripMargin
      }
      s"""WITH feat AS ($featSql),
         |winit AS (SELECT 0.0 AS c0, 0.0 AS c1, 0.0 AS c2, 0.0 AS c3),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT 1 AS iter, acc AS acc_before,
         |  c0 AS w0, c1 AS w1, c2 AS w2, c3 AS w3 FROM wt1
         |UNION ALL SELECT 2, acc, c0, c1, c2, c3 FROM wt2
         |UNION ALL SELECT 3, acc, c0, c1, c2, c3 FROM wt3""".stripMargin
    },
  )
}
